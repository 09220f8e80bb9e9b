"""``session.local_frame`` builds driver-side rows as an Arrow-backed
LocalRelation with exactly the schema and rows ``createDataFrame``
gives for the same input — for each schema shape the engine's call
sites use — and the default connected-components fold stays a couple
of Spark jobs."""

from __future__ import annotations

import datetime
import decimal
import random

import pytest
from pyspark.sql import types as T

from hydraide_spark.session import local_frame

_BODY = T.StructType(
    [
        T.StructField("title", T.StringType(), True),
        T.StructField("n", T.LongType(), True),
        T.StructField("tags", T.ArrayType(T.StringType()), True),
    ]
)

_SHAPES = {
    "string_keys_names": ([("a",), ("b",), (None,)], ["key"]),
    "string_keys_ddl": ([("a",), ("b",)], "word string"),
    "string_int": ([("k1", 0), ("k2", 1)], "key string, _req_idx int"),
    "struct_body": (
        [("k1", 0, {"title": "t", "n": 3, "tags": ["x", "y"]}), ("k2", 1, ("u", None, [])), ("k3", 2, None)],
        T.StructType(
            [
                T.StructField("key", T.StringType(), False),
                T.StructField("_req_idx", T.IntegerType(), False),
                T.StructField("body", _BODY, True),
            ]
        ),
    ),
    "timestamp": (
        [
            (1, datetime.datetime(2024, 3, 10, 2, 30, 0, 123456)),
            (2, datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)),
            (3, None),
        ],
        "id long, ts timestamp",
    ),
    "long_pairs_not_null": (
        [(1, 1), (2, 1), (7, 7)],
        T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("cluster_id", T.LongType(), False),
            ]
        ),
    ),
    "decimal_array": (
        [(0, "en", decimal.Decimal("0.123456789012")), (1, "de", decimal.Decimal("-2.5"))],
        "li int, lab string, prior decimal(20,12)",
    ),
    "telemetry_row": (
        [(1, "op", 1.5, True, ["t1", "t2"], None, None)],
        "ts_us long, op string, wall_ms double, ok boolean, tables array<string>,"
        " err_kind string, err_msg string",
    ),
    "empty": ([], "patch_index int, key string, patch_status string"),
    "names_inferred": ([(1, "a", 2.5, True), (2, None, None, False)], ["i", "s", "d", "b"]),
}


def _plan_node(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_local_frame_equals_create_data_frame(spark, shape):
    rows, schema = _SHAPES[shape]
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert _plan_node(got) == "LocalRelation"


def test_local_frame_names_only_needs_rows(spark):
    """Names-only inference on no rows fails exactly like
    ``createDataFrame`` does — there is nothing to infer from."""
    with pytest.raises(Exception, match="CANNOT_INFER_EMPTY_SCHEMA"):
        local_frame(spark, [], ["key"])


def _jobs_in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_default_neardup_clusters_folds_in_two_jobs(spark):
    """The default (driver fold) path probes the edge set once and
    returns its labels as a LocalRelation: at most 2 Spark jobs through
    the collected labels, against several per round for the loop, with
    labels equal to the forced distributed loop's (``driver_cap=0``)."""
    from hydraide_spark.functions.dedup import neardup_clusters

    rnd = random.Random(3)
    edges = [(rnd.randrange(60), rnd.randrange(60)) for _ in range(50)]
    pairs = local_frame(spark, edges, "id_a long, id_b long")
    pairs.collect()  # nothing of the input build lands in the group

    def fold():
        out = neardup_clusters(pairs)
        return out, {r["doc_id"]: r["cluster_id"] for r in out.collect()}

    (out, got), jobs = _jobs_in_group(spark, "neardup-fold", fold)
    assert jobs <= 2, jobs
    assert _plan_node(out) == "LocalRelation"
    dist, dist_jobs = _jobs_in_group(
        spark,
        "neardup-loop",
        lambda: {
            r["doc_id"]: r["cluster_id"]
            for r in neardup_clusters(pairs, driver_cap=0).collect()
        },
    )
    assert got == dist
    assert dist_jobs > jobs


@pytest.mark.parametrize(
    "ram_gib, env, want",
    [
        (16, None, "12288m"),  # three quarters of a 16 GiB host
        (64, None, "24576m"),  # 24g on a large host
        (1, None, "768m"),
        (16, "30g", "30g"),  # the environment always wins
    ],
)
def test_driver_memory_default_fits_the_host(monkeypatch, ram_gib, env, want):
    """No Spark: the default driver heap is min(24g, 3/4 of physical
    RAM) and ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    from hydraide_spark import session

    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_gib * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
    if env is None:
        monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", env)
    assert session._driver_memory() == want
