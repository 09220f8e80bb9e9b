"""The mutation surface: Set modes, Delete/Shift, conditional
Increments, structural Patch on struct bodies, Uint32Slice set ops
(SURVEY.md §2.10).

Every operator here is a *pure transformation*: (current state,
mutation spec) -> (new state, per-key status rows). The reference
returns per-key statuses (NEW/UPDATED/NOTHING_CHANGED,
proto:1031-1039; patch codes proto:3192-3249) from inside its per-key
guard; the Spark engine computes the same statuses relationally — a
null-safe diff join in the same batch — and the storage layer
(sources.store) persists new state + emits change events. Concurrency
collapses to per-partition single-writer batch semantics (SURVEY §3.2).

Scale notes: the state/updates join is an equi-join on the key (hash
shuffle both sides or broadcast for small update batches); statuses are
a projection of that same join — no second pass over state.
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum
from typing import Any, Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from ..query.filters import Pred, translate
from ..session import local_frame
from .read import _keys_predicate

STATUS_NEW = "NEW"
STATUS_UPDATED = "UPDATED"
STATUS_NOTHING_CHANGED = "NOTHING_CHANGED"
STATUS_NOT_CREATED = "NOT_CREATED"  # insert-only hit existing / update-only miss
STATUS_DELETED = "DELETED"
STATUS_PATCHED = "PATCHED"
STATUS_CONDITION_NOT_MET = "CONDITION_NOT_MET"
# the remaining PatchResult codes (proto:3192-3249)
STATUS_CREATED = "CREATED"
STATUS_CAP_EXCEEDED = "CAP_EXCEEDED"
STATUS_KEY_NOT_FOUND = "KEY_NOT_FOUND"


def set_treasures(
    base: DataFrame,
    updates: DataFrame,
    key_col: str = "key",
    create_if_not_exist: bool = True,
    overwrite: bool = True,
) -> DataFrame:
    """Reference ``Set`` (gateway.go:194-333): upsert / insert-only /
    update-only via the CreateIfNotExist x Overwrite flags (proto:916-931),
    with per-key status NEW / UPDATED / NOTHING_CHANGED / NOT_CREATED.

    Returns one row per key in (base ∪ updates) with every base column,
    post-set, plus ``set_status``. Value columns = all shared non-key
    columns of the two frames; unchanged detection is a null-safe
    column-wise comparison of them (the reference's changed-field
    detection, swamp.go:2174-2176). A base column the updates lack
    keeps its value on existing rows and is NULL on new ones.
    """
    value_cols = [c for c in updates.columns if c != key_col and c in base.columns]
    b = base.alias("b")
    u = updates.select(key_col, *value_cols).alias("u")
    j = b.join(u, F.col(f"b.{key_col}") == F.col(f"u.{key_col}"), "full_outer")

    in_base = F.col(f"b.{key_col}").isNotNull()
    in_upd = F.col(f"u.{key_col}").isNotNull()
    same = F.lit(True)
    for c in value_cols:
        same = same & F.col(f"b.{c}").eqNullSafe(F.col(f"u.{c}"))

    take_update = (
        (in_upd & ~in_base & F.lit(create_if_not_exist))
        | (in_upd & in_base & F.lit(overwrite))
    )
    status = (
        F.when(~in_upd, F.lit(STATUS_NOTHING_CHANGED))  # untouched existing row
        .when(~in_base & F.lit(create_if_not_exist), F.lit(STATUS_NEW))
        .when(~in_base, F.lit(STATUS_NOT_CREATED))  # update-only miss
        .when(~F.lit(overwrite), F.lit(STATUS_NOT_CREATED))  # insert-only hit
        .when(same, F.lit(STATUS_NOTHING_CHANGED))
        .otherwise(F.lit(STATUS_UPDATED))
    )

    out_cols = [
        F.coalesce(F.col(f"b.{key_col}"), F.col(f"u.{key_col}")).alias(key_col)
    ]
    for c in base.columns:
        if c in value_cols:
            out_cols.append(
                F.when(take_update, F.col(f"u.{c}"))
                .otherwise(F.col(f"b.{c}"))
                .alias(c)
            )
        elif c != key_col:
            out_cols.append(F.col(f"b.{c}"))
    out_cols.append(status.alias("set_status"))
    return j.select(*out_cols)


def delete_treasures(
    base: DataFrame, keys: Sequence[str], key_col: str = "key"
) -> tuple[DataFrame, DataFrame]:
    """Reference ``Delete`` (gateway.go:1326-1395): returns
    (remaining, deleted). Deleted rows double as the shadow-delete
    tombstones for subscribers (swamp.go:2551-2575). A NULL-key row
    is never listed, so it always remains."""
    return (
        _keys_predicate(base, keys, key_col, negate=True),
        _keys_predicate(base, keys, key_col),
    )


def shift_by_keys(
    base: DataFrame, keys: Sequence[str], key_col: str = "key"
) -> tuple[DataFrame, DataFrame]:
    """Reference ``ShiftByKeys`` (proto:127-157): atomic read+delete by
    key list (queue ack). Returns (claimed, remaining) — the claimed
    rows are the operator's output, the remaining frame is the new
    state."""
    remaining, claimed = delete_treasures(base, keys, key_col)
    return claimed, remaining


@dataclass(frozen=True)
class IncrementMeta:
    """``IncrementRequestMetadata`` (proto:1591-1597): what to stamp on
    the treasure when the increment targets it — one instance for
    newly-created keys (``SetIfNotExist``), one for pre-existing keys
    (``SetIfExist``). ``created_at``/``updated_at`` are stamp-now
    booleans; the *_by fields are identity strings; ``expired_at`` is an
    absolute epoch-µs TTL."""

    created_at: bool = False
    created_by: Optional[str] = None
    updated_at: bool = False
    updated_by: Optional[str] = None
    expired_at: Optional[int] = None  # epoch µs


_META_FIELDS = (
    ("created_at_us", "created_at", True),
    ("created_by", "created_by", False),
    ("updated_at_us", "updated_at", True),
    ("updated_by", "updated_by", False),
    ("expired_at_us", "expired_at", False),
)


def _now_us(now_us: Optional[int]) -> int:
    import time as _time

    return int(now_us if now_us is not None else _time.time_ns() // 1_000)


def _meta_value(meta: Optional[IncrementMeta], attr: str, is_now: bool, now_us: int):
    if meta is None:
        return F.lit(None).cast("long" if is_now or attr == "expired_at" else "string")
    v = getattr(meta, attr)
    if is_now:
        return F.lit(now_us if v else None).cast("long")
    if attr == "expired_at":
        return F.lit(v).cast("long")
    return F.lit(v).cast("string")


def _increment_result(
    work: DataFrame,
    value_col: str,
    delta: float,
    condition: Optional[Pred],
    created: Column,
    meta_if_not_exist: Optional[IncrementMeta],
    meta_if_exist: Optional[IncrementMeta],
    now_us: Optional[int],
) -> Column:
    """The conditional add over ``work``'s rows as ONE struct column:
    (old_value, new_value, applied, created[, the five meta stamps])."""
    cond = translate(condition, work) if condition is not None else F.lit(True)
    old = F.col(value_col)
    fields = [
        old.alias("old_value"),
        F.when(cond, old + F.lit(delta)).otherwise(old).alias("new_value"),
        (cond & old.isNotNull()).alias("applied"),
        created.alias("created"),
    ]
    if meta_if_not_exist is not None or meta_if_exist is not None:
        now = _now_us(now_us)
        for out_name, attr, is_now in _META_FIELDS:
            fields.append(
                F.when(
                    created, _meta_value(meta_if_not_exist, attr, is_now, now)
                )
                .otherwise(_meta_value(meta_if_exist, attr, is_now, now))
                .alias(out_name)
            )
    return F.struct(*fields)


def increment(
    base: DataFrame,
    value_col: str,
    delta: float,
    condition: Optional[Pred] = None,
    key_col: str = "key",
    keys: Optional[Sequence[str]] = None,
    meta_if_not_exist: Optional[IncrementMeta] = None,
    meta_if_exist: Optional[IncrementMeta] = None,
    now_us: Optional[int] = None,
) -> DataFrame:
    """The 10 ``Increment<T>`` RPCs as ONE generic conditional add
    (reference burns ~900 LoC on per-type copies, swamp.go:1274-2017;
    Spark's numeric tower needs a single expression).

    Returns key, old_value, new_value, applied, created — applied=False
    rows keep their value (condition failed), matching the reference's
    returns-new-value + applied flag contract (proto:420-455).

    ``keys`` switches to the reference's get-or-create mode
    (swamp.go:1277-1280: ``beaconKey.Get`` → ``CreateTreasure``):
    missing keys are created with value 0 before the conditional add.
    It returns the results of :func:`increment_batch` — the same
    request-sized transformation ``TreasureStore.increment`` commits.

    ``meta_if_not_exist`` / ``meta_if_exist`` stamp per-key metadata
    (proto:1591; swamp.go:1219 ``setMetaForIncrement``) — created keys
    take the first, pre-existing keys the second, and the stamp happens
    whether or not the condition passes (the reference stamps inside
    the guard BEFORE the condition check). When either is given the
    output gains created_at_us/created_by/updated_at_us/updated_by/
    expired_at_us (the ``IncrementResponseMetadata`` analogue,
    proto:1599). ``now_us`` pins the stamp clock (deterministic
    replays); defaults to wall-clock."""
    if keys is not None:
        batch = increment_batch(
            base.sparkSession, base, keys, value_col, delta, condition,
            key_col=key_col, meta_if_not_exist=meta_if_not_exist,
            meta_if_exist=meta_if_exist, now_us=now_us,
        )
        batch.unpersist()  # the results are driver-side rows
        return batch.results
    res = _increment_result(
        base, value_col, delta, condition, F.lit(False),
        meta_if_not_exist, meta_if_exist, now_us,
    )
    return base.select(F.col(key_col), res.alias("_res")).select(key_col, "_res.*")


def increment_batch(
    spark,
    base: DataFrame,
    keys: Sequence[str],
    value_col: str,
    delta: float,
    condition: Optional[Pred] = None,
    key_col: str = "key",
    create_if_not_exist: bool = True,
    meta_if_not_exist: Optional[IncrementMeta] = None,
    meta_if_exist: Optional[IncrementMeta] = None,
    now_us: Optional[int] = None,
) -> "KeyedBatch":
    """The keyed ``Increment<T>`` request as a pure transformation on
    the plan shape of :func:`patch_each_batch`: only the targeted rows
    (``read._keys_predicate``) plus, under ``create_if_not_exist``, one
    seed row per requested key (value 0, other columns typed NULL — so
    conditions on any base column resolve) are worked on and cached.
    ONE collect fills that cache and yields both the present keys and
    the result rows; a seed whose key turned out present is dropped
    after it, so the plan has no join, no broadcast and no second key
    scan. Membership (not value-nullness) decides ``created``: an
    existing key whose value is NULL is not created, it just can't be
    incremented (applied=False).

    Returns a :class:`KeyedBatch`: ``results`` (one row per distinct
    requested key present or created, a driver-side frame),
    ``new_state`` = untargeted rows ∪ rewritten targeted rows ∪ created
    rows, and ``changed`` = the WRITTEN rows (applied existing ones and
    every created one) with ``_op`` UPDATED/NEW. Meta stamps persist on
    written rows only: an unapplied existing key's stamp is in its
    result row, not in the state (swamp.go:1345-1349 skips the Save)."""
    # requested keys are a SET (duplicates would double result rows
    # and duplicate persisted key rows)
    keys = list(dict.fromkeys(keys))
    work = _keys_predicate(base, keys, key_col).withColumn("_created", F.lit(False))
    if create_if_not_exist:
        seeds = local_frame(spark, [(k,) for k in keys], f"{key_col} string")
        for c, t in base.dtypes:
            if c != key_col:
                seeds = seeds.withColumn(
                    c, F.lit(0).cast(t) if c == value_col else F.lit(None).cast(t)
                )
        work = work.unionByName(seeds.withColumn("_created", F.lit(True)))
    res = _increment_result(
        work, value_col, delta, condition, F.col("_created"),
        meta_if_not_exist, meta_if_exist, now_us,
    )
    out = work.withColumn("_res", res).cache()
    # the cache-fill action, bounded by 2 * len(keys) rows
    rows = out.select(key_col, "_res").collect()
    present = {r[0] for r in rows if not r[1]["created"]}
    created_keys = [k for k in keys if k not in present]
    res_type = out.schema["_res"].dataType
    results = local_frame(
        spark,
        [(r[0], *r[1]) for r in rows if not r[1]["created"] or r[0] not in present],
        T.StructType([base.schema[key_col], *res_type.fields]),
    )

    written = F.col("_res.created") | F.col("_res.applied")
    cols = {value_col: F.col("_res.new_value")}
    for m in (f.name for f in res_type.fields[4:]):
        stamp = F.col(f"_res.{m}")
        prev = F.col(m) if m in base.columns else F.lit(None).cast(res_type[m].dataType)
        cols[m] = F.when(written, F.coalesce(stamp, prev)).otherwise(prev)
    kept = out.filter(~F.col("_created") | F.col(key_col).isin(created_keys))
    rewritten = kept.withColumns(cols).withColumn(
        "_op",
        F.when(F.col("_created"), F.lit(STATUS_NEW))
        .when(written, F.lit(STATUS_UPDATED)),
    )
    aux = ["_created", "_res", "_op"]
    new_state = _keys_predicate(base, keys, key_col, negate=True).unionByName(
        rewritten.drop(*aux), allowMissingColumns=True
    )
    changed = rewritten.filter(F.col("_op").isNotNull()).drop("_created", "_res")
    return KeyedBatch(results, new_state, changed, out)


# ---------------------------------------------------------------------------
# Structural patch on struct-typed body columns


class PatchKind(Enum):
    SET = "set"
    DELETE = "delete"
    INC = "inc"
    APPEND = "append"
    PREPEND = "prepend"
    REMOVE_AT = "remove_at"
    REMOVE_VAL = "remove_val"
    MERGE = "merge"


@dataclass(frozen=True)
class PatchOp:
    kind: PatchKind
    path: str  # dotted path inside the body struct
    value: Any = None


def _apply_patch_op(body: Column, op: PatchOp, structural: bool = True) -> Column:
    """One structural op on a struct column via withField/dropFields —
    Spark's native struct surgery replaces the reference's msgpack
    byte-level patching (msgpackpatch pkg); untouched fields are
    untouched columns by construction.

    ``structural``: whether schema-changing ops are allowed. A row-gated
    (conditional) patch must keep the schema uniform across rows, so
    DELETE degrades to nulling the field."""
    path = op.path
    if op.kind is PatchKind.SET:
        return body.withField(path, F.lit(op.value))
    if op.kind is PatchKind.DELETE:
        if not structural:
            target = _get_path(body, path)
            typed_null = F.when(F.lit(False), target)  # NULL of target's type
            return body.withField(path, typed_null)
        return body.dropFields(path)
    if op.kind is PatchKind.INC:
        return body.withField(path, _get_path(body, path) + F.lit(op.value))
    if op.kind is PatchKind.APPEND:
        arr = _get_path(body, path)
        return body.withField(path, F.concat(arr, F.array(F.lit(op.value))))
    if op.kind is PatchKind.PREPEND:
        arr = _get_path(body, path)
        return body.withField(path, F.concat(F.array(F.lit(op.value)), arr))
    if op.kind is PatchKind.REMOVE_AT:
        arr = _get_path(body, path)
        idx = int(op.value)
        return body.withField(
            path,
            F.filter(arr, lambda x, i: i != idx),
        )
    if op.kind is PatchKind.REMOVE_VAL:
        arr = _get_path(body, path)
        return body.withField(path, F.array_remove(arr, op.value))
    if op.kind is PatchKind.MERGE:
        out = body
        for k, v in dict(op.value).items():
            out = out.withField(f"{path}.{k}" if path else k, F.lit(v))
        return out
    raise ValueError(f"unknown patch kind {op.kind}")


def _get_path(body: Column, path: str) -> Column:
    out = body
    for seg in path.split("."):
        out = out[seg]
    return out


@dataclass(frozen=True)
class PatchMeta:
    """``PatchMeta`` (proto:3140-3165): timestamp/identity metadata
    stamped on PATCHED rows. ``clear_expired_at`` takes precedence over
    ``set_expired_at`` (proto:3163). The proto's SetCreatedAt/
    SetCreatedBy fire only on treasures CREATED in the call and are
    "ignored on existing treasures" (proto:3159-3161); they are absent
    here, and a row created by CreateIfNotExist carries the same
    updated_* stamps as a patched one."""

    updated_at: bool = False
    updated_by: Optional[str] = None
    set_expired_at: Optional[int] = None  # epoch µs TTL
    clear_expired_at: bool = False


def _meta_stamps(
    columns: Sequence[str], branches, now: int, expired_col: str
) -> dict:
    """The PatchMeta stamps (proto:3140-3165) as column expressions:
    ``branches`` is a list of ``(applies, meta)``; a row where
    ``applies`` holds takes that meta's stamps, every other row keeps
    its value. Only the columns some meta stamps are returned, and a
    stamped column missing from ``columns`` starts as a typed NULL."""
    out: dict = {}
    for applies, m in branches:
        if m is None:
            continue
        stamps = []
        if m.updated_at:
            stamps.append(("updated_at_us", "long", F.lit(now)))
        if m.updated_by is not None:
            stamps.append(("updated_by", "string", F.lit(m.updated_by)))
        if m.clear_expired_at:  # precedence over set (proto:3163)
            stamps.append((expired_col, "timestamp", F.lit(None).cast("timestamp")))
        elif m.set_expired_at is not None:
            stamps.append(
                (
                    expired_col,
                    "timestamp",
                    F.timestamp_micros(F.lit(int(m.set_expired_at))),
                )
            )
        for name, dtype, value in stamps:
            prev = out.get(name)
            if prev is None:
                prev = F.col(name) if name in columns else F.lit(None).cast(dtype)
            out[name] = F.when(applies, value).otherwise(prev)
    return out


def patch_treasures(
    base: DataFrame,
    ops: Sequence[PatchOp],
    condition: Optional[Pred] = None,
    key_col: str = "key",
    body_col: str = "body",
    meta: Optional[PatchMeta] = None,
    expired_col: str = "expired_at",
    now_us: Optional[int] = None,
) -> DataFrame:
    """The ``PatchTreasures`` op algebra over every row of ``base``
    (proto:2988-3177, msgpackpatch pkg): an ordered op-list applied
    atomically per row, gated by an optional per-row PatchCondition.
    Untouched fields stay identical (the reference's core invariant,
    property_test.go) — here structurally guaranteed by withField.

    ``meta`` stamps PATCHED rows (proto:3140-3165): updated_at_us /
    updated_by top-level columns (added as typed nulls if absent), and
    the TTL column ``expired_col`` slid to ``set_expired_at`` or
    cleared — the same timestamp column the claims operators
    (shift/patch-expired) read, so a patch-time TTL slide immediately
    affects claimability. Unpatched rows keep their existing values.
    ``now_us`` pins the stamp clock for deterministic replays.

    Returns all rows with the (possibly) patched body and
    ``patch_status`` ∈ PATCHED / CONDITION_NOT_MET. The keyed request
    (per-key entries, CreateIfNotExist, Cap) is
    :func:`patch_each_batch`."""
    structural = condition is None
    patched = F.col(body_col)
    for op in ops:
        patched = _apply_patch_op(patched, op, structural=structural)
    if structural:
        new_body = patched
        cond = F.lit(True)
    else:
        cond = translate(condition, base)
        new_body = F.when(cond, patched).otherwise(F.col(body_col))
    status = F.when(cond, F.lit(STATUS_PATCHED)).otherwise(F.lit(STATUS_CONDITION_NOT_MET))
    # one projection: both expressions must bind to the ORIGINAL body —
    # chaining withColumn would re-resolve the condition against the
    # already-patched body and misreport rows the patch pushed across
    # the condition boundary
    cols = {body_col: new_body, "patch_status": status}
    if meta is not None:
        cols.update(
            _meta_stamps(base.columns, [(cond, meta)], _now_us(now_us), expired_col)
        )
    return base.withColumns(cols)


@dataclass
class KeyedBatch:
    """Result of a keyed request (:func:`patch_each_batch`,
    :func:`increment_batch`): the per-request result rows, the full new
    state, and the mutated rows for event emission. ``unpersist()``
    releases the request-sized cache once all three frames are
    consumed."""

    results: DataFrame
    new_state: DataFrame
    changed: DataFrame
    _cached: DataFrame

    def unpersist(self) -> None:
        self._cached.unpersist()


def patch_each_batch(
    spark,
    base: DataFrame,
    patches: Sequence[tuple],
    key_col: str = "key",
    body_col: str = "body",
    meta: Optional[PatchMeta] = None,
    now_us: Optional[int] = None,
    expired_col: str = "expired_at",
    cap=None,
    create_if_not_exist: bool = False,
    seed_body=None,
) -> KeyedBatch:
    """The ``PatchTreasuresRequest`` (proto:2988-3177) as a pure
    transformation, in the request's exact shape (proto:2996-3010
    ``TreasurePatch``): every patch entry carries its own key, op-list,
    optional condition and optional per-patch meta — ``patches`` is a
    sequence of ``(key, ops, condition)`` or ``(key, ops, condition,
    meta)``. A request with one op-list for a key list is the entry
    list ``[(k, ops, condition) for k in keys]``.

    Duplicate keys are allowed and run sequentially in declaration
    order (proto:2995-3001): a later patch on the same key observes
    the earlier patch's mutated body, so per-key conditions can
    implement the proto's partial-accept-counter pattern. A per-patch
    meta FULLY REPLACES the request-level ``meta`` for that patch
    (proto:3063-3070, no merging). A NULL condition is not met.

    ``create_if_not_exist`` (request-level CreateIfNotExist): a missing
    key gets a row seeded from ``seed_body`` (other columns NULL) that
    entries patch like any row. Until one of its entries applies, the
    seeded row never pre-matches the cap (swamp_patch.go:250-252
    evaluates preMatched only when !isCreate), and if none applies it
    is rolled back out of ``new_state`` (swamp_patch.go's deferred
    ``creatingTreasures.Delete`` on the unsaved path). The entry that
    first applies reports CREATED; later ones report PATCHED.

    ``cap`` is the REQUEST-LEVEL quota (proto:3020-3040; ``TreasurePatch``
    has no Cap field, proto:3045-3067). gateway_patch.go:78-105
    pre-counts the rows of ``base`` matching ``cap.filter`` ONCE, then
    threads one running budget ``max_matching - current`` through every
    sequential ``PatchFields`` call (swamp_patch.go:244-261):

    - only an accepted (non-matching → matching) patch decrements the
      budget; (yes→yes), (yes→no) and (no→no) always proceed, and a
      (yes→no) patch does NOT refund budget (the reference's only
      budget write is the decrement);
    - a (no→yes) patch with no budget left reports CAP_EXCEEDED and its
      entry mutates nothing — a LATER entry on the same key then
      observes the unchanged body, and every accepted entry still
      commits (per-entry, not whole-request, rejection);
    - pre/post matching is evaluated on the key's LIVE body at that
      entry's turn — i.e. after every earlier accepted entry.

    Plan shape: only the targeted rows (``read._keys_predicate``:
    ``isin`` or, above ``ISIN_THRESHOLD``, a broadcast semi-join) plus
    the seeded rows are worked on and cached — O(request), never
    O(state). Entries split into rounds (round r = every key's r-th
    patch); within a round, keys sharing an identical (ops, condition,
    meta) spec compile into one chained-CASE branch, and each round is
    a single projection over the running frame. With ``cap`` set, ONE
    bounded probe job collects every round's (cond, pre-match,
    post-match) bits plus the budget, and the budget walk happens
    driver-side in entry order. ``new_state`` is the untargeted rows ∪
    the kept targeted rows.

    Returns one result row PER PATCH ENTRY: ``(patch_index, key,
    patch_status)`` with the PatchResult codes (proto:3192-3249)
    PATCHED / CREATED / CONDITION_NOT_MET / CAP_EXCEEDED /
    KEY_NOT_FOUND (missing key without CreateIfNotExist). The
    type-error codes (TYPE_MISMATCH, PATH_INVALID, …) cannot occur
    relationally — Catalyst rejects them at plan time."""
    if cap is not None and cap.max_matching <= 0:
        raise ValueError("Cap.max_matching must be > 0 (proto:3040)")

    now = _now_us(now_us)

    if not patches:
        empty = local_frame(
            spark, [], f"patch_index int, {key_col} string, patch_status string"
        )
        none = base.limit(0).withColumn("_created", F.lit(False))
        return KeyedBatch(empty, base, none, none)

    # split entries into rounds: round r holds each key's r-th patch
    rounds: list[list[tuple]] = []  # [(idx, key, ops, cond, meta)]
    occurrence: dict[str, int] = {}
    all_keys: list[str] = []
    for idx, entry in enumerate(patches):
        k, ops, cond = entry[0], entry[1], entry[2]
        per_meta = entry[3] if len(entry) > 3 else None
        eff_meta = per_meta if per_meta is not None else meta
        r = occurrence.get(k, 0)
        occurrence[k] = r + 1
        if r == len(rounds):
            rounds.append([])
        rounds[r].append((idx, k, tuple(ops), cond, eff_meta))
        if r == 0:
            all_keys.append(k)

    # the request-sized working set: the targeted rows, plus one seeded
    # row per missing key under CreateIfNotExist. ``_applied`` records
    # whether any entry has applied to the row so far.
    targeted = _keys_predicate(base, all_keys, key_col)
    work = targeted.withColumn("_created", F.lit(False))
    if create_if_not_exist:
        seeds = local_frame(
            spark,
            [(k, seed_body) for k in all_keys],
            T.StructType(
                [
                    T.StructField(key_col, T.StringType(), False),
                    T.StructField(body_col, base.schema[body_col].dataType, True),
                ]
            ),
        ).join(F.broadcast(targeted.select(key_col)), key_col, "left_anti")
        for c, t in base.dtypes:
            if c not in (key_col, body_col):
                seeds = seeds.withColumn(c, F.lit(None).cast(t))
        work = work.unionByName(seeds.withColumn("_created", F.lit(True)))
    work = work.withColumn("_applied", F.lit(False))

    key_c = F.col(key_col)
    # a seeded row none of whose entries has applied yet
    pending = F.col("_created") & ~F.col("_applied")

    def _group(entries):
        # keys sharing an identical (ops, cond, meta) spec compile into
        # one CASE branch; unhashable op values fall back to repr-based
        # grouping (same projection, keyed by the spec's printed form)
        grouped: dict = {}
        for idx, k, ops, cond, m in entries:
            spec = (ops, cond, m)
            try:
                grouped.setdefault(spec, (spec, []))[1].append(k)
            except TypeError:
                grouped.setdefault(repr(spec), (spec, []))[1].append(k)
        return list(grouped.values())

    groups_by_round = [_group(entries) for entries in rounds]

    def _round_exprs(out, r, capped_keys):
        """This round's chained-CASE expressions bound to ``out`` (the
        running frame = the prior round's output, so a repeated key's
        condition and pre-match observe the earlier patch — the proto's
        sequential-observation rule)."""
        capped_c = key_c.isin(list(capped_keys)) if capped_keys else F.lit(False)
        body_expr = F.col(body_col)
        status_expr = F.lit(None).cast("string")
        hit = F.lit(False)
        branches = []
        for (ops, cond, m), ks in groups_by_round[r]:
            member = key_c.isin(ks)
            patched = F.col(body_col)
            for op in ops:
                # row-gated: schema must stay uniform across rows
                patched = _apply_patch_op(patched, op, structural=False)
            c = (
                F.coalesce(translate(cond, out), F.lit(False))
                if cond is not None
                else F.lit(True)
            )
            applies = member & c & ~capped_c
            body_expr = F.when(applies, patched).otherwise(body_expr)
            status_expr = F.when(
                member,
                F.when(~c, F.lit(STATUS_CONDITION_NOT_MET))
                .when(capped_c, F.lit(STATUS_CAP_EXCEEDED))
                .when(pending, F.lit(STATUS_CREATED))
                .otherwise(F.lit(STATUS_PATCHED)),
            ).otherwise(status_expr)
            hit = hit | applies
            branches.append((applies, m))
        stamps = _meta_stamps(out.columns, branches, now, expired_col)
        return body_expr, status_expr, hit, stamps

    def _apply_round(out, r, capped_keys):
        body_expr, status_expr, hit, stamps = _round_exprs(out, r, capped_keys)
        idx_pairs = []
        for idx, k, _, _, _ in rounds[r]:
            idx_pairs += [F.lit(k), F.lit(idx)]
        return out.withColumns(
            {
                body_col: body_expr,
                f"_status_{r}": status_expr,
                f"_idx_{r}": F.create_map(*idx_pairs)[key_c],
                "_applied": F.col("_applied") | hit,
                **stamps,
            }
        )

    capped: list[set] = [set() for _ in rounds]

    if cap is not None:
        # capPreCount (gateway_patch.go:98-105): whole-swamp, once,
        # pre-mutation; one scan-side aggregate, broadcast onto the
        # probe rows below so it needs no job of its own
        budget_df = base.agg(
            F.greatest(
                F.lit(0),
                F.lit(int(cap.max_matching))
                - F.count_if(
                    F.coalesce(translate(cap.filter, base), F.lit(False))
                ),
            ).alias("_budget")
        )

        def _chain(upto):
            out = work
            for rr in range(upto):
                out = _apply_round(out, rr, capped[rr])
            return out

        def _probe_frame(r):
            """The (cond, pre, post) bits of round r's keys as a lazy
            frame, post-match on the candidate-patched row (meta stamps
            included). Output is <= len(rounds[r]) rows."""
            out_r = _chain(r)
            body_expr, status_expr, _, stamps = _round_exprs(out_r, r, ())
            round_keys = [k for _, k, _, _, _ in rounds[r]]
            probe = out_r.filter(key_c.isin(round_keys)).withColumns(
                {
                    "_cond_ok": F.coalesce(
                        status_expr.isin(STATUS_PATCHED, STATUS_CREATED),
                        F.lit(False),
                    ),
                    "_pre": ~pending
                    & F.coalesce(translate(cap.filter, out_r), F.lit(False)),
                    body_col: body_expr,
                    **stamps,
                }
            )
            return probe.select(
                key_c.alias("_k"),
                "_cond_ok",
                "_pre",
                F.coalesce(
                    translate(cap.filter, probe), F.lit(False)
                ).alias("_post"),
            )

        def _probe(r):
            return {
                row["_k"]: (row["_cond_ok"], row["_pre"], row["_post"])
                for row in _probe_frame(r).collect()
            }

        # ONE upfront job for EVERY round's bits plus the budget: the
        # union is computed optimistically with NO capped keys — valid
        # because a probe row is only wrong for a key one of whose
        # EARLIER entries got capped, which is exactly the staleness
        # the walk below tracks and lazily re-probes.
        union = None
        for r in range(len(rounds)):
            pf = _probe_frame(r).withColumn("_round", F.lit(r))
            union = pf if union is None else union.unionByName(pf)
        probe_rows = union.crossJoin(F.broadcast(budget_df)).collect()
        probes: dict[int, dict] = {r: {} for r in range(len(rounds))}
        stale: dict[int, set] = {r: set() for r in range(len(rounds))}
        budget = 0  # stays 0 when no key is present: nothing can spend
        for row in probe_rows:
            probes[row["_round"]][row["_k"]] = (
                row["_cond_ok"], row["_pre"], row["_post"],
            )
            budget = int(row["_budget"])
        # Budget walk in GLOBAL entry order (gateway_patch.go threads
        # one budgetLeft through the patches loop) — NOT round order:
        # round r of one key can precede round r-1 entries of another
        # key in the request. An entry's bits depend only on its OWN
        # key's earlier decisions (always at smaller indices), so a
        # round's probe stays valid for a key until one of that key's
        # earlier entries gets capped — then just that round re-probes
        # (re-probes are bounded by the number of cap rejections that
        # precede same-key later entries; typically zero).
        flat = sorted(
            (idx, k, r)
            for r, ents in enumerate(rounds)
            for idx, k, _, _, _ in ents
        )
        for idx, k, r in flat:
            if k in stale[r]:
                probes[r] = _probe(r)
                stale[r] = set()
            bits = probes[r].get(k)
            if bits is None:
                continue  # missing key -> KEY_NOT_FOUND, no cap check
            cond_ok, pre, post = bits
            if cond_ok and not pre and post:
                if budget > 0:
                    budget -= 1  # accepted (no->yes) spends; never refunded
                else:
                    capped[r].add(k)
                    for r2 in stale:
                        if r2 > r:
                            stale[r2].add(k)

    out = work
    for r in range(len(rounds)):
        out = _apply_round(out, r, capped[r])
    out = out.cache()
    # the cache-fill action (one job, bounded by len(patches) rows)
    # yields every entry's status, so the results are driver-side rows
    status_rows = out.select(
        key_c, *[c for r in range(len(rounds)) for c in (f"_idx_{r}", f"_status_{r}")]
    ).collect()
    found = {row[0] for row in status_rows}
    result_rows = [
        (row[1 + 2 * r], row[0], row[2 + 2 * r])
        for row in status_rows
        for r in range(len(rounds))
        if row[2 + 2 * r] is not None
    ]
    if not create_if_not_exist:
        result_rows += [
            (idx, k, STATUS_KEY_NOT_FOUND)
            for r_entries in rounds
            for idx, k, _, _, _ in r_entries
            if k not in found
        ]
    results = local_frame(
        spark,
        sorted(result_rows),
        f"patch_index int, {key_col} string, patch_status string",
    )

    aux = ["_created", "_applied"] + [
        c for r in range(len(rounds)) for c in (f"_status_{r}", f"_idx_{r}")
    ]
    # a seeded row no entry applied to is rolled back
    kept = out.filter(~F.col("_created") | F.col("_applied")).drop(*aux)
    untargeted = _keys_predicate(base, all_keys, key_col, negate=True)
    new_state = untargeted.unionByName(kept, allowMissingColumns=True)
    changed = out.filter(F.col("_applied"))
    return KeyedBatch(results, new_state, changed, out)


# ---------------------------------------------------------------------------
# Uint32Slice set-valued cell ops (proto:378-418)


def uint32slice_push(base: DataFrame, values: Sequence[int], ids_col: str = "ids") -> DataFrame:
    """Push with auto-dedup (proto:960-964: set semantics)."""
    lits = F.array(*[F.lit(int(v)) for v in values]).cast("array<bigint>")
    return base.withColumn(ids_col, F.array_distinct(F.concat(F.col(ids_col), lits)))


def uint32slice_delete(base: DataFrame, values: Sequence[int], ids_col: str = "ids") -> DataFrame:
    """Delete; missing values ignored."""
    lits = F.array(*[F.lit(int(v)) for v in values]).cast("array<bigint>")
    return base.withColumn(ids_col, F.array_except(F.col(ids_col), lits))


def uint32slice_size(base: DataFrame, ids_col: str = "ids") -> Column:
    return F.size(F.col(ids_col))


def uint32slice_is_value_exist(base: DataFrame, value: int, ids_col: str = "ids") -> Column:
    return F.array_contains(F.col(ids_col), F.lit(int(value)).cast("bigint"))
