"""SparkSession construction with engine defaults.

Local-mode testing uses ``local[N]``; the same conf names govern cluster
deployments. Defaults follow the scale guidance in SURVEY.md §4/§7:
AQE on (runtime re-planning + skew-join handling), shuffle partitions
sized to cores locally (cluster: ~2-3x total cores), Arrow enabled for
the pandas-UDF paths, UTC session timezone so results are oracle-stable.
"""

from __future__ import annotations

import os
from typing import Iterable, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` when set, else 24g capped at three
    quarters of physical RAM (in MiB), so a default JVM never asks for
    more heap than a small host has."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem is not None:
        return mem
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "24g"
    return f"{max(1, min(24 * 1024, total * 3 // 4 // 2**20))}m"


ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scans: keep row-group pruning + pushdown on (defaults, pinned)
    "spark.sql.parquet.filterPushdown": "true",
    # TIMESTAMP(NANOS) parquet columns (Spark has no ns type): read as
    # long, converted to microsecond timestamps by sources.tables.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # At 100 TB the default 128MB split is fine; local tests read small files.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
    # Local mode runs driver AND executors in one JVM; the 1g default
    # heap is sized for neither (the 10x scale stress OOM'd an
    # AQE-chosen broadcast build inside it while the machine had 100+
    # GiB free). Only effective before the JVM starts; clusters size
    # driver/executor memory in deploy conf instead.
    "spark.driver.memory": _driver_memory(),
}


def get_spark(
    app_name: str = "hydraide_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback
    ``local[*]``) so the same entry points serve tests, bench, and the
    driver harness. On a real cluster pass ``master=None`` with
    ``spark.master`` preset in the environment.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(ENGINE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession,
    rows: Iterable,
    schema: Union[StructType, str, Sequence[str]],
) -> DataFrame:
    """A DataFrame over driver-side Python rows, planned as a
    ``LocalRelation``: the rows become a ``pyarrow.Table`` typed by
    ``to_arrow_schema(schema)`` and reach the JVM as Arrow batches.

    ``spark.createDataFrame(<python list>)`` is instead a
    ``parallelize`` re-serialized through a ``PythonRDD``, so every job
    that scans the frame starts Python workers (measured on a 4-vCPU
    host: collecting a 4-row frame took 340-415 ms that way, 23-31 ms
    as a LocalRelation). Catalyst also sizes a LocalRelation exactly,
    which keeps broadcast decisions over it honest.

    ``schema`` is what ``createDataFrame`` takes, with the same
    result schema: a ``StructType`` (nullability kept), a DDL string,
    or a list of column names whose types are inferred from ``rows``
    (all nullable; empty ``rows`` cannot be inferred and raise, as in
    ``createDataFrame``). Rows are tuples, ``Row``s or dicts; values
    convert as Spark Connect converts local data (naive datetimes in
    the driver's local time zone, like ``createDataFrame``)."""
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    rows = list(rows)
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    elif not isinstance(schema, StructType):
        names = list(schema)
        schema = spark._inferSchemaFromList(rows, names=names)
        # as in createDataFrame, the given names win over Row field names
        for i, name in enumerate(names):
            schema.fields[i].name = name
            schema.names[i] = name
    if not isinstance(schema, StructType):
        raise TypeError(f"local_frame needs a struct schema, got {schema!r}")
    if rows:
        table = LocalDataToArrowConversion.convert(rows, schema, False)
    else:
        table = to_arrow_schema(schema).empty_table()
    return spark.createDataFrame(table, schema)
