"""Patch-algebra semantics, modeled on the reference's msgpackpatch
property suite (SURVEY.md §5: untouched fields byte-identical, INC
round-trip, append-then-remove restores, no-op round-trip) — here the
invariants are structural (withField surgery) but asserted the same
way, including a fixed-seed hypothesis fuzz over op sequences.
"""

from __future__ import annotations

from datetime import datetime

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import Row, functions as F, types as T

from hydraide_spark.operators.mutate import PatchKind, PatchOp, patch_treasures
from hydraide_spark.query import Cmp, Op

BODY_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), True),
        T.StructField("count", T.LongType(), True),
        T.StructField("tags", T.ArrayType(T.StringType()), True),
        T.StructField(
            "nested",
            T.StructType(
                [
                    T.StructField("a", T.LongType(), True),
                    T.StructField("b", T.StringType(), True),
                ]
            ),
            True,
        ),
        T.StructField("untouched", T.StringType(), True),
    ]
)
SCHEMA = T.StructType(
    [T.StructField("key", T.StringType(), False), T.StructField("body", BODY_SCHEMA, True)]
)


@pytest.fixture(scope="module")
def base(spark):
    rows = [
        ("k1", ("n1", 10, ["a", "b", "c"], (1, "x"), "keepme")),
        ("k2", ("n2", -5, [], (0, None), "keepme2")),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def one(df, key="k1"):
    return df.filter(F.col("key") == key).select("body", "patch_status").collect()[0]


def test_set_and_delete_field(spark, base):
    out = patch_treasures(base, [PatchOp(PatchKind.SET, "name", "renamed")])
    assert one(out)["body"]["name"] == "renamed"
    out2 = patch_treasures(base, [PatchOp(PatchKind.DELETE, "name")])
    assert "name" not in out2.select("body").schema[0].dataType.fieldNames()


def test_inc_roundtrip(spark, base):
    """INC +d then INC -d restores the original (msgpackpatch INC
    round-trip property)."""
    out = patch_treasures(
        base,
        [PatchOp(PatchKind.INC, "count", 7), PatchOp(PatchKind.INC, "count", -7)],
    )
    assert one(out)["body"]["count"] == 10
    assert one(out, "k2")["body"]["count"] == -5


def test_append_prepend_remove(spark, base):
    out = patch_treasures(
        base,
        [
            PatchOp(PatchKind.APPEND, "tags", "z"),
            PatchOp(PatchKind.PREPEND, "tags", "front"),
        ],
    )
    assert list(one(out)["body"]["tags"]) == ["front", "a", "b", "c", "z"]
    # append then remove_val restores (property: append-then-remove)
    out2 = patch_treasures(
        base,
        [PatchOp(PatchKind.APPEND, "tags", "z"), PatchOp(PatchKind.REMOVE_VAL, "tags", "z")],
    )
    assert list(one(out2)["body"]["tags"]) == ["a", "b", "c"]


def test_remove_at_index(spark, base):
    out = patch_treasures(base, [PatchOp(PatchKind.REMOVE_AT, "tags", 1)])
    assert list(one(out)["body"]["tags"]) == ["a", "c"]
    # out-of-range index: no-op on the array
    out2 = patch_treasures(base, [PatchOp(PatchKind.REMOVE_AT, "tags", 99)])
    assert list(one(out2)["body"]["tags"]) == ["a", "b", "c"]


def test_merge_and_nested_paths(spark, base):
    out = patch_treasures(
        base,
        [
            PatchOp(PatchKind.MERGE, "nested", {"a": 42, "b": "merged"}),
            PatchOp(PatchKind.SET, "nested.b", "set-after-merge"),
        ],
    )
    body = one(out)["body"]
    assert body["nested"]["a"] == 42
    assert body["nested"]["b"] == "set-after-merge"


def test_untouched_fields_identical(spark, base):
    """THE msgpackpatch invariant: fields not named by any op are
    identical after the patch."""
    out = patch_treasures(
        base,
        [
            PatchOp(PatchKind.SET, "name", "x"),
            PatchOp(PatchKind.INC, "count", 1),
            PatchOp(PatchKind.APPEND, "tags", "t"),
        ],
    )
    for key in ("k1", "k2"):
        b = one(out, key)["body"]
        orig = {r["key"]: r["body"] for r in base.collect()}[key]
        assert b["untouched"] == orig["untouched"]
        assert b["nested"] == orig["nested"]


def test_condition_gates_whole_oplist(spark, base):
    out = patch_treasures(
        base,
        [PatchOp(PatchKind.SET, "name", "x"), PatchOp(PatchKind.INC, "count", 1)],
        condition=Cmp("body.count", Op.GT, 0),
    )
    k1, k2 = one(out, "k1"), one(out, "k2")
    assert k1["patch_status"] == "PATCHED" and k1["body"]["count"] == 11
    assert k2["patch_status"] == "CONDITION_NOT_MET"
    assert k2["body"]["count"] == -5 and k2["body"]["name"] == "n2"


def test_noop_roundtrip(spark, base):
    """Empty op list: output equals input exactly (no-op round-trip)."""
    out = patch_treasures(base, [])
    assert sorted(
        (r["key"], r["body"]) for r in out.select("key", "body").collect()
    ) == sorted((r["key"], r["body"]) for r in base.collect())


# --- fixed-seed property fuzz (the reference's property_test.go style) ----

op_strategy = st.one_of(
    st.builds(lambda v: PatchOp(PatchKind.SET, "name", v), st.text(max_size=5)),
    st.builds(lambda d: PatchOp(PatchKind.INC, "count", d), st.integers(-100, 100)),
    st.builds(lambda v: PatchOp(PatchKind.APPEND, "tags", v), st.text(max_size=3)),
    st.builds(lambda v: PatchOp(PatchKind.PREPEND, "tags", v), st.text(max_size=3)),
    st.builds(lambda i: PatchOp(PatchKind.REMOVE_AT, "tags", i), st.integers(0, 5)),
)


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(op_strategy, max_size=4))
def test_property_untouched_and_reparse(spark, base, ops):
    """For any op sequence: untouched fields stay identical, the output
    re-collects cleanly (the 'output always re-parses' property), and
    the input frame is never mutated."""
    out = patch_treasures(base, ops)
    rows = {r["key"]: r["body"] for r in out.select("key", "body").collect()}
    orig = {r["key"]: r["body"] for r in base.collect()}
    for key in rows:
        assert rows[key]["untouched"] == orig[key]["untouched"]
        assert rows[key]["nested"] == orig[key]["nested"]
    # input blob never mutated
    assert {r["key"]: r["body"] for r in base.collect()} == orig


def test_patch_meta_clear_precedence_and_claims_interop(spark):
    """PatchMeta (proto:3140-3165): clear_expired_at wins over
    set_expired_at; the TTL column a patch slides/clears is the SAME
    column the claims operators read, so a cleared row is immediately
    unclaimable (§1.4 null-timestamp rule)."""
    from hydraide_spark.operators.claims import shift_expired
    from hydraide_spark.operators.mutate import PatchMeta, patch_treasures

    base = spark.createDataFrame(
        [
            ("k1", (1,), datetime(2020, 1, 1)),
            ("k2", (2,), datetime(2020, 1, 2)),
        ],
        T.StructType(
            [
                T.StructField("key", T.StringType(), False),
                T.StructField(
                    "body",
                    T.StructType([T.StructField("n", T.LongType(), True)]),
                    True,
                ),
                T.StructField("expired_at", T.TimestampType(), True),
            ]
        ),
    )
    out = patch_treasures(
        base,
        [PatchOp(PatchKind.INC, "n", 1)],
        condition=Cmp("key", Op.EQ, "k1"),
        meta=PatchMeta(
            updated_at=True,
            set_expired_at=1_900_000_000_000_000,
            clear_expired_at=True,  # must win (proto:3163)
        ),
        now_us=1_700_000_000_000_000,
    )
    rows = {r["key"]: r for r in out.collect()}
    assert rows["k1"]["expired_at"] is None          # cleared, not slid
    assert rows["k1"]["updated_at_us"] == 1_700_000_000_000_000
    assert rows["k2"]["expired_at"] == datetime(2020, 1, 2)  # untouched
    assert rows["k2"]["updated_at_us"] is None
    # claims interop: the cleared row is no longer claimable
    claimed = shift_expired(
        out.drop("patch_status"), datetime(2024, 1, 1), how_many=10
    )
    assert [r["key"] for r in claimed.collect()] == ["k2"]
