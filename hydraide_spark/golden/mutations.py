"""Golden queries: the mutation + claim surface (SURVEY.md §2.9-§2.10).

Mutations are pure transformations (state, spec) -> (new state, per-key
statuses); each golden query computes the result frame the reference's
RPC would return. The DuckDB oracle derives the same statuses
*independently* (from the update-rule arithmetic, not by mirroring the
join), so agreement is a real semantic check.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from ..functions._cache import memo
from ..operators import claims as C
from ..operators import mutate as M
from ..query import And, Cmp, Index, IndexOrder, IndexType, Op
from . import golden
from ._util import ORDERS_SWAMP_SQL, big, orders_as_swamp, t


def _customer_kv(spark, sf_dir):
    return t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("key"),
        F.col("c_acctbal").alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )


def _updates(spark, sf_dir):
    """Deterministic update batch: existing keys 1..500 (every 3rd gets
    bal+100, the rest resubmit their current value — NOTHING_CHANGED),
    plus 100 brand-new keys n1..n100 with bal 0."""
    cust = t(spark, sf_dir, "customer")
    existing = cust.filter(F.col("c_custkey") <= 500).select(
        F.col("c_custkey").cast("string").alias("key"),
        F.when(F.col("c_custkey") % 3 == 0, F.col("c_acctbal") + 100.0)
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )
    new = (
        cust.filter(F.col("c_custkey") <= 100)
        .select(
            F.concat(F.lit("n"), F.col("c_custkey").cast("string")).alias("key"),
            F.lit(0.0).alias("bal"),
            F.lit("NONE").alias("seg"),
        )
    )
    return existing.unionByName(new)


@golden(
    "set_upsert_status",
    oracle="""
    WITH base AS (
      SELECT CAST(c_custkey AS VARCHAR) AS key, c_acctbal AS bal, c_custkey AS k
      FROM customer
    )
    SELECT key,
           CASE WHEN k <= 500 AND k % 3 = 0 THEN bal + 100.0 ELSE bal END AS bal,
           CASE WHEN k <= 500 AND k % 3 = 0 THEN 'UPDATED'
                ELSE 'NOTHING_CHANGED' END AS set_status
    FROM base
    UNION ALL
    SELECT 'n' || CAST(c_custkey AS VARCHAR) AS key, 0.0 AS bal, 'NEW' AS set_status
    FROM customer WHERE c_custkey <= 100
    """,
)
def set_upsert_status(spark, sf_dir):
    """Reference `Set` upsert mode (CreateIfNotExist+Overwrite): per-key
    NEW / UPDATED / NOTHING_CHANGED statuses from a null-safe diff in
    the merge join (proto:1031-1039; changed-field detection
    swamp.go:2174-2176). Unchanged resubmits report NOTHING_CHANGED —
    the reference's no-event case."""
    base = _customer_kv(spark, sf_dir)
    out = M.set_treasures(base, _updates(spark, sf_dir))
    return out.select("key", "bal", "set_status")


@golden(
    "set_insert_only_counts",
    oracle="""
    WITH statuses AS (
      SELECT 'NEW' AS set_status FROM customer WHERE c_custkey <= 100
      UNION ALL
      SELECT CASE WHEN c_custkey <= 500 THEN 'NOT_CREATED'
                  ELSE 'NOTHING_CHANGED' END AS set_status
      FROM customer
    )
    SELECT set_status, CAST(COUNT(*) AS BIGINT) AS n
    FROM statuses GROUP BY set_status
    """,
)
def set_insert_only_counts(spark, sf_dir):
    """Insert-only mode (CreateIfNotExist, no Overwrite): updates to
    existing keys are refused (NOT_CREATED), new keys insert (NEW),
    untouched rows NOTHING_CHANGED — the 4-flag-mode matrix of
    proto:916-931, aggregated to status counts."""
    base = _customer_kv(spark, sf_dir)
    out = M.set_treasures(base, _updates(spark, sf_dir), overwrite=False)
    return out.groupBy("set_status").agg(F.count(F.lit(1)).alias("n"))


@golden(
    "increment_conditional",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS key,
           c_acctbal AS old_value,
           CASE WHEN c_acctbal < 5000.005 THEN c_acctbal + 100.0
                ELSE c_acctbal END AS new_value,
           (c_acctbal < 5000.005) AS applied
    FROM customer
    """,
)
def increment_conditional(spark, sf_dir):
    """The 10 Increment<T> RPCs as one generic conditional add
    (proto:420-455): delta applied iff the relational condition holds on
    the CURRENT value; returns (old, new, applied) per key."""
    base = _customer_kv(spark, sf_dir)
    out = M.increment(base, "bal", 100.0, condition=Cmp("bal", Op.LT, 5000.005))
    return out.select("key", "old_value", "new_value", "applied")


@golden(
    "increment_stamped",
    oracle="""
    WITH k AS (
      SELECT * FROM (VALUES ('1'), ('2'), ('xk-1'), ('xk-2')) t(key)
    ),
    base AS (
      SELECT CAST(c_custkey AS VARCHAR) AS key, c_acctbal AS bal
      FROM customer
    ),
    j AS (
      SELECT k.key,
             COALESCE(b.bal, 0) AS old_value,
             (b.key IS NULL) AS created
      FROM k LEFT JOIN base b ON k.key = b.key
    )
    SELECT key,
           old_value,
           CASE WHEN old_value < 5000.005 THEN old_value + 100.0
                ELSE old_value END AS new_value,
           (old_value < 5000.005) AS applied,
           created,
           CAST(CASE WHEN created THEN 1700000000000000 END AS BIGINT)
             AS created_at_us,
           CASE WHEN created THEN 'loader' END AS created_by,
           CAST(CASE WHEN NOT created THEN 1700000000000000 END AS BIGINT)
             AS updated_at_us,
           CASE WHEN NOT created THEN 'incr' END AS updated_by,
           CAST(CASE WHEN created THEN 9999999999000000 END AS BIGINT)
             AS expired_at_us
    FROM j
    """,
)
def increment_stamped(spark, sf_dir):
    """Increment in get-or-create mode with metadata stamping
    (proto:1591 IncrementRequestMetadata; swamp.go:1219
    setMetaForIncrement; swamp.go:1277-1280 get-or-create): missing
    keys are created at 0 and stamped with the SetIfNotExist metadata
    (created_at/created_by/expired_at); existing keys take SetIfExist
    (updated_at/updated_by). The stamp clock is pinned for the oracle."""
    base = _customer_kv(spark, sf_dir)
    out = M.increment(
        base,
        "bal",
        100.0,
        condition=Cmp("bal", Op.LT, 5000.005),
        keys=["1", "2", "xk-1", "xk-2"],
        meta_if_not_exist=M.IncrementMeta(
            created_at=True, created_by="loader",
            expired_at=9_999_999_999_000_000,
        ),
        meta_if_exist=M.IncrementMeta(updated_at=True, updated_by="incr"),
        now_us=1_700_000_000_000_000,
    )
    return out.select(
        "key",
        "old_value",
        "new_value",
        "applied",
        "created",
        big("created_at_us").alias("created_at_us"),
        F.col("created_by"),
        big("updated_at_us").alias("updated_at_us"),
        F.col("updated_by"),
        big("expired_at_us").alias("expired_at_us"),
    )


@golden(
    "patch_struct_ops",
    oracle="""
    WITH e AS (
      SELECT event_id, event_type, value, user_id % 5 AS retry FROM events
    )
    SELECT CAST(event_id AS BIGINT) AS event_id,
           CASE WHEN retry < 3 THEN 'patched' ELSE event_type END AS kind_after,
           CASE WHEN retry < 3 THEN value + 2.5 ELSE value END AS amount_after,
           CAST(CASE WHEN retry < 3 THEN 2 ELSE 1 END AS BIGINT) AS n_tags_after,
           CASE WHEN retry < 3 THEN 'PATCHED' ELSE 'CONDITION_NOT_MET' END AS patch_status
    FROM e
    """,
)
def patch_struct_ops(spark, sf_dir):
    """PatchTreasures (proto:2988-3177): ordered op-list — SET a field,
    INC a numeric field, APPEND to an array — gated by a per-row
    PatchCondition (retry < 3); condition failures leave the body
    byte-identical and report CONDITION_NOT_MET. Struct surgery via
    withField keeps untouched fields untouched by construction
    (the msgpackpatch property invariant)."""
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        F.struct(
            F.col("event_type").alias("kind"),
            F.col("value").alias("amount"),
            F.array(F.col("event_type")).alias("tags"),
            (F.col("user_id") % 5).alias("retry"),
        ).alias("body"),
    )
    ops = [
        M.PatchOp(M.PatchKind.SET, "kind", "patched"),
        M.PatchOp(M.PatchKind.INC, "amount", 2.5),
        M.PatchOp(M.PatchKind.APPEND, "tags", "x"),
    ]
    out = M.patch_treasures(ev, ops, condition=Cmp("body.retry", Op.LT, 3), key_col="event_id")
    return out.select(
        big("event_id").alias("event_id"),
        F.col("body.kind").alias("kind_after"),
        F.col("body.amount").alias("amount_after"),
        F.size("body.tags").cast("bigint").alias("n_tags_after"),
        "patch_status",
    )


@golden(
    "patch_meta_stamped",
    oracle="""
    WITH e AS (
      SELECT event_id, value, user_id % 5 AS retry FROM events
    )
    SELECT CAST(event_id AS BIGINT) AS event_id,
           CASE WHEN retry < 3 THEN value + 1.0 ELSE value END AS amount_after,
           CASE WHEN retry < 3 THEN 'PATCHED' ELSE 'CONDITION_NOT_MET' END
             AS patch_status,
           CAST(CASE WHEN retry < 3 THEN 1700000000000000 END AS BIGINT)
             AS updated_at_us,
           CASE WHEN retry < 3 THEN 'patcher' END AS updated_by,
           CAST(CASE WHEN retry < 3 THEN 1900000000000000 END AS BIGINT)
             AS expired_at_us
    FROM e
    """,
)
def patch_meta_stamped(spark, sf_dir):
    """PatchTreasures with PatchMeta (proto:3140-3165): PATCHED rows
    are stamped UpdatedAt/UpdatedBy and their TTL slides to the given
    ExpiredAt — the same expired_at column the claims operators read —
    while CONDITION_NOT_MET rows keep their (absent) metadata. The
    stamp clock is pinned; the TTL comes back as unix_micros so the
    comparison is exact integers on both engines."""
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        F.struct(
            F.col("value").alias("amount"),
            (F.col("user_id") % 5).alias("retry"),
        ).alias("body"),
    )
    out = M.patch_treasures(
        ev,
        [M.PatchOp(M.PatchKind.INC, "amount", 1.0)],
        condition=Cmp("body.retry", Op.LT, 3),
        key_col="event_id",
        meta=M.PatchMeta(
            updated_at=True,
            updated_by="patcher",
            set_expired_at=1_900_000_000_000_000,
        ),
        now_us=1_700_000_000_000_000,
    )
    return out.select(
        big("event_id").alias("event_id"),
        F.col("body.amount").alias("amount_after"),
        "patch_status",
        big("updated_at_us").alias("updated_at_us"),
        F.col("updated_by"),
        F.unix_micros(F.col("expired_at")).alias("expired_at_us"),
    )


_NOW = datetime(1996, 1, 1)


@golden(
    "shift_expired_claim",
    oracle=f"""
    WITH swamp AS ({ORDERS_SWAMP_SQL})
    SELECT key, created_at AS expired_at FROM swamp
    WHERE created_at IS NOT NULL AND created_at < TIMESTAMP '1996-01-01 00:00:00'
    ORDER BY created_at ASC, key ASC
    LIMIT 100
    """,
)
def shift_expired_claim(spark, sf_dir):
    """ShiftExpiredTreasures (proto:159-177): TTL-queue pop — oldest
    expired first, bounded, atomically removed. NULL expired_at rows are
    not in the expiration index (§1.4) hence never claimable. The
    returned frame is the claim; deletion-from-state is asserted in
    tests/test_claims.py."""
    swamp = orders_as_swamp(t(spark, sf_dir, "orders")).withColumnRenamed(
        "created_at", "expired_at"
    )
    claimed = C.shift_expired(swamp, _NOW, how_many=100)
    return claimed.select("key", "expired_at")


@golden(
    "shift_matching_cap",
    oracle=f"""
    WITH swamp AS ({ORDERS_SWAMP_SQL}),
    cur AS (
      SELECT COUNT(*) AS c FROM swamp
      WHERE priority = '1-URGENT' AND totalprice > 300000
    ),
    sel AS (
      SELECT key, totalprice,
             ROW_NUMBER() OVER (ORDER BY totalprice DESC, key ASC) AS rn
      FROM swamp WHERE status = 'O'
    )
    SELECT key, totalprice FROM sel, cur
    WHERE rn <= 50 AND rn <= GREATEST(1250 - c, 0)
    """,
)
def shift_matching_cap(spark, sf_dir):
    """ShiftMatchingTreasures with Cap (proto:191-216, 1136-1162):
    ordered parametric claim bounded by min(HowMany, cap budget), where
    budget = max_matching - current matches of the cap filter. With the
    fixed quota 1250 the three sfs exercise all regimes: non-binding
    (sf0.001), binding (sf0.01 -> 27 rows), exhausted (sf0.1 -> 0 rows,
    CapReached)."""
    swamp = orders_as_swamp(t(spark, sf_dir, "orders"))
    idx = Index(index_type=IndexType.VALUE, value_column="totalprice", order=IndexOrder.DESC)
    cap = C.Cap(
        filter=And(
            [Cmp("priority", Op.EQ, "1-URGENT"), Cmp("totalprice", Op.GT, 300000.0)]
        ),
        max_matching=1250,
    )
    claimed = C.shift_matching(
        swamp, idx, Cmp("status", Op.EQ, "O"), how_many=50, cap=cap
    )
    return claimed.select("key", "totalprice")


@golden(
    "patch_expired_lease",
    oracle=f"""
    WITH swamp AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS key,
             CASE WHEN o_orderkey % 10 <> 0 THEN o_orderdate END AS expired_at,
             o_orderkey % 5 AS retry
      FROM orders
    ),
    sel AS (
      SELECT * FROM swamp
      WHERE expired_at IS NOT NULL AND expired_at < TIMESTAMP '1996-01-01 00:00:00'
      ORDER BY expired_at ASC, key ASC
      LIMIT 80
    )
    SELECT key,
           CASE WHEN retry < 3 THEN TIMESTAMP '1996-01-01 00:15:00'
                ELSE expired_at END AS expired_at,
           CAST(CASE WHEN retry < 3 THEN retry + 1 ELSE retry END AS BIGINT) AS retry_after,
           CASE WHEN retry < 3 THEN 'PATCHED' ELSE 'CONDITION_NOT_MET' END AS patch_status
    FROM sel
    """,
)
def patch_expired_lease(spark, sf_dir):
    """PatchExpiredTreasures (proto:494-522): lease claim — select
    expired oldest-first, apply the op-set (INC retry), slide expired_at
    to now+lease as the crash-recovery deadline; condition failures
    (retry >= 3) re-insert unchanged with CONDITION_NOT_MET."""
    orders = t(spark, sf_dir, "orders")
    swamp = orders.select(
        F.col("o_orderkey").cast("string").alias("key"),
        F.when(F.col("o_orderkey") % 10 != 0, F.col("o_orderdate")).alias("expired_at"),
        F.struct((F.col("o_orderkey") % 5).alias("retry")).alias("body"),
    )
    results, _new_state = C.patch_expired(
        swamp,
        _NOW,
        how_many=80,
        lease=timedelta(minutes=15),
        ops=[M.PatchOp(M.PatchKind.INC, "retry", 1)],
        condition=Cmp("body.retry", Op.LT, 3),
    )
    return results.select(
        "key",
        "expired_at",
        F.col("body.retry").cast("bigint").alias("retry_after"),
        "patch_status",
    )


@golden(
    "patch_cap_budget",
    oracle="""
    WITH base AS (
      SELECT CAST(c_custkey AS VARCHAR) AS key, c_acctbal AS bal
      FROM customer
    ),
    req(key, idx) AS (
      VALUES ('1',0),('2',1),('3',2),('4',3),('5',4),('6',5),('7',6),
             ('8',7),('9',8),('10',9),('xk-1',10),('xk-2',11)
    ),
    tgt AS (
      SELECT r.key, r.idx,
             (b.key IS NULL) AS created,
             COALESCE(b.bal, 8000.0) AS bal0
      FROM req r LEFT JOIN base b ON r.key = b.key
    ),
    ev AS (
      SELECT key, idx, created, bal0,
             (bal0 < 9500.0) AS cond_met,
             (NOT created AND bal0 >= 9000.0) AS pre_match,
             (bal0 + 1500.0) AS bal1
      FROM tgt
    ),
    ranked AS (
      SELECT *,
             (cond_met AND NOT pre_match AND bal1 >= 9000.0) AS trans,
             SUM(CASE WHEN cond_met AND NOT pre_match AND bal1 >= 9000.0
                      THEN 1 ELSE 0 END)
               OVER (ORDER BY idx ROWS UNBOUNDED PRECEDING) AS run
      FROM ev
    )
    SELECT key,
           CASE WHEN trans AND run > 2 THEN 'CAP_EXCEEDED'
                WHEN NOT cond_met THEN 'CONDITION_NOT_MET'
                WHEN created THEN 'CREATED'
                ELSE 'PATCHED' END AS patch_status,
           CASE WHEN created AND (NOT cond_met OR (trans AND run > 2))
                  THEN NULL                       -- rolled-back create
                WHEN NOT cond_met OR (trans AND run > 2) THEN bal0
                ELSE bal1 END AS bal_after
    FROM ranked
    """,
)
def patch_cap_budget(spark, sf_dir):
    """The PatchTreasures Cap quota, reference-exact (proto:3023-3040;
    gateway_patch.go capPreCount + swamp_patch.go PatchFields:247-261):
    the (no→yes) budget is ``max_matching - currently_matching``
    counted ONCE over the whole swamp, consumed in request order; only
    non-matching→matching patches spend it, over-budget keys report
    CAP_EXCEEDED with their row un-mutated, and everything accepted
    still commits. Created rows (CreateIfNotExist) never pre-match, so
    a matching created row is itself a budget-consuming transition; a
    created row that loses the race (or fails the condition) is rolled
    back out of the state entirely. ``max_matching = pre_count + 2``
    pins the budget to exactly 2 at every sf, so the oracle replays
    the running-sum allocation with a literal."""
    cust = t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").cast("string").alias("key"),
        F.struct(F.col("c_acctbal").alias("bal")).alias("body"),
    )
    # input constant (fixture statistic -> the request's cap literal);
    # memoized per process like n_rows_memo
    pre = memo(
        ("input", "cust_bal_ge_9000", sf_dir),
        lambda: base.filter(F.col("body.bal") >= 9000.0).count(),
    )
    keys = [str(i) for i in range(1, 11)] + ["xk-1", "xk-2"]
    ops = [M.PatchOp(M.PatchKind.INC, "bal", 1500.0)]
    cond = Cmp("body.bal", Op.LT, 9500.0)
    out = M.patch_each_batch(
        spark,
        base,
        [(k, ops, cond) for k in keys],
        cap=C.Cap(Cmp("body.bal", Op.GE, 9000.0), pre + 2),
        create_if_not_exist=True,
        seed_body=(8000.0,),
    )
    state = out.new_state.select(
        "key", F.col("body.bal").alias("bal_after")
    )
    res = out.results.join(state, "key", "left").select(
        "key", "patch_status", "bal_after"
    )
    out.unpersist()
    return res


@golden(
    "patch_each_cap",
    oracle="""
    WITH b0 AS (
      SELECT
        (SELECT c_acctbal FROM customer WHERE c_custkey = 1) AS bal1,
        (SELECT c_acctbal FROM customer WHERE c_custkey = 2) AS bal2,
        (SELECT c_acctbal FROM customer WHERE c_custkey = 3) AS bal3,
        2 AS bud
    ),
    -- e0: key 1, +1500, cond bal<9500
    s1 AS (
      SELECT
        CASE WHEN NOT (bal1 < 9500.0) THEN 'CONDITION_NOT_MET'
             WHEN NOT (bal1 >= 9000.0) AND (bal1 + 1500.0 >= 9000.0)
                  AND bud <= 0 THEN 'CAP_EXCEEDED'
             ELSE 'PATCHED' END AS st0,
        CASE WHEN (bal1 < 9500.0) AND NOT (NOT (bal1 >= 9000.0)
                  AND (bal1 + 1500.0 >= 9000.0) AND bud <= 0)
             THEN bal1 + 1500.0 ELSE bal1 END AS bal1,
        bal2, bal3,
        bud - CASE WHEN (bal1 < 9500.0) AND NOT (bal1 >= 9000.0)
                        AND (bal1 + 1500.0 >= 9000.0) AND bud > 0
                   THEN 1 ELSE 0 END AS bud
      FROM b0
    ),
    -- e1: key 1 again, +100, cond bal<9500 — observes s1's bal1
    s2 AS (
      SELECT st0,
        CASE WHEN NOT (bal1 < 9500.0) THEN 'CONDITION_NOT_MET'
             WHEN NOT (bal1 >= 9000.0) AND (bal1 + 100.0 >= 9000.0)
                  AND bud <= 0 THEN 'CAP_EXCEEDED'
             ELSE 'PATCHED' END AS st1,
        CASE WHEN (bal1 < 9500.0) AND NOT (NOT (bal1 >= 9000.0)
                  AND (bal1 + 100.0 >= 9000.0) AND bud <= 0)
             THEN bal1 + 100.0 ELSE bal1 END AS bal1,
        bal2, bal3,
        bud - CASE WHEN (bal1 < 9500.0) AND NOT (bal1 >= 9000.0)
                        AND (bal1 + 100.0 >= 9000.0) AND bud > 0
                   THEN 1 ELSE 0 END AS bud
      FROM s1
    ),
    -- e2: key 2, +1500, no condition
    s3 AS (
      SELECT st0, st1,
        CASE WHEN NOT (bal2 >= 9000.0) AND (bal2 + 1500.0 >= 9000.0)
                  AND bud <= 0 THEN 'CAP_EXCEEDED'
             ELSE 'PATCHED' END AS st2,
        bal1,
        CASE WHEN NOT (NOT (bal2 >= 9000.0) AND (bal2 + 1500.0 >= 9000.0)
                  AND bud <= 0)
             THEN bal2 + 1500.0 ELSE bal2 END AS bal2,
        bal3,
        bud - CASE WHEN NOT (bal2 >= 9000.0) AND (bal2 + 1500.0 >= 9000.0)
                        AND bud > 0
                   THEN 1 ELSE 0 END AS bud
      FROM s2
    ),
    -- e3: key xk → KEY_NOT_FOUND (no state change, no budget check)
    -- e4: key 3, +3000, no condition
    s4 AS (
      SELECT st0, st1, st2,
        CASE WHEN NOT (bal3 >= 9000.0) AND (bal3 + 3000.0 >= 9000.0)
                  AND bud <= 0 THEN 'CAP_EXCEEDED'
             ELSE 'PATCHED' END AS st4,
        bal1, bal2,
        CASE WHEN NOT (NOT (bal3 >= 9000.0) AND (bal3 + 3000.0 >= 9000.0)
                  AND bud <= 0)
             THEN bal3 + 3000.0 ELSE bal3 END AS bal3,
        bud - CASE WHEN NOT (bal3 >= 9000.0) AND (bal3 + 3000.0 >= 9000.0)
                        AND bud > 0
                   THEN 1 ELSE 0 END AS bud
      FROM s3
    ),
    -- e5: key 2 again, -5000 — observes s3's bal2; (yes→no) never refunds
    s5 AS (
      SELECT st0, st1, st2, st4,
        CASE WHEN NOT (bal2 >= 9000.0) AND (bal2 - 5000.0 >= 9000.0)
                  AND bud <= 0 THEN 'CAP_EXCEEDED'
             ELSE 'PATCHED' END AS st5,
        bal1,
        CASE WHEN NOT (NOT (bal2 >= 9000.0) AND (bal2 - 5000.0 >= 9000.0)
                  AND bud <= 0)
             THEN bal2 - 5000.0 ELSE bal2 END AS bal2,
        bal3
      FROM s4
    )
    SELECT 0 AS patch_index, '1' AS key, st0 AS patch_status, bal1 AS bal_after FROM s5
    UNION ALL SELECT 1, '1', st1, bal1 FROM s5
    UNION ALL SELECT 2, '2', st2, bal2 FROM s5
    UNION ALL SELECT 3, 'xk', 'KEY_NOT_FOUND', CAST(NULL AS DOUBLE) FROM s5
    UNION ALL SELECT 4, '3', st4, bal3 FROM s5
    UNION ALL SELECT 5, '2', st5, bal2 FROM s5
    """,
)
def patch_each_cap(spark, sf_dir):
    """Request-level Cap over the sequential duplicate-key patch path
    (proto:3020-3040 on PatchTreasuresRequest; TreasurePatch itself has
    NO Cap field, proto:3045-3067 — adjudicated r9): ONE budget threads
    through the entries in declaration order (gateway_patch.go:78-105 →
    swamp_patch.go:244-261), only accepted (no→yes) transitions spend
    it, a capped entry mutates nothing (its key's LATER entries observe
    the unchanged body), and (yes→no) never refunds. ``max_matching =
    pre_count + 2`` pins the budget to exactly 2 at every sf; the
    oracle replays the six-entry walk as chained CTEs — the sequential
    semantics ARE the compared values."""
    cust = t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").cast("string").alias("key"),
        F.struct(F.col("c_acctbal").alias("bal")).alias("body"),
    )
    # input constant (fixture statistic -> the request's cap literal);
    # memoized per process like n_rows_memo
    pre = memo(
        ("input", "cust_bal_ge_9000", sf_dir),
        lambda: base.filter(F.col("body.bal") >= 9000.0).count(),
    )
    cond = Cmp("body.bal", Op.LT, 9500.0)
    inc = lambda d: [M.PatchOp(M.PatchKind.INC, "bal", d)]  # noqa: E731
    out = M.patch_each_batch(
        spark,
        base,
        [
            ("1", inc(1500.0), cond),
            ("1", inc(100.0), cond),
            ("2", inc(1500.0), None),
            ("xk", inc(1.0), None),
            ("3", inc(3000.0), None),
            ("2", inc(-5000.0), None),
        ],
        cap=C.Cap(Cmp("body.bal", Op.GE, 9000.0), pre + 2),
    )
    state = out.new_state.filter(F.col("key").isin(["1", "2", "3"])).select(
        "key", F.col("body.bal").alias("bal_after")
    )
    res = (
        out.results.join(state, "key", "left")
        .select("patch_index", "key", "patch_status", "bal_after")
    )
    out.unpersist()  # capped keys are plan literals — recompute is exact
    return res
