"""Claim / queue transactions: ShiftExpired, ShiftMatching, PatchExpired
with Cap quotas (SURVEY.md §2.9, §3.3) — the reference's hardest
transactional surface.

Reference semantics (proto:159-226, 494-543): select rows by an ordered
index + FilterGroup, bounded by min(HowMany, cap budget); atomically
delete (shift) or patch + slide ExpiredAt (lease); two concurrent
callers never observe overlapping sets; Cap counts rows matching
Cap.Filter post-op and refuses claims that would exceed MaxMatching.

Spark design (SURVEY §7 step 6): a claim is a *batch transaction over a
snapshot* — all claims for a table run through a single serialized
applier (the storage layer / a foreachBatch owner), which is what the
reference's per-swamp mutex provides. The selection itself is fully
declarative and scale-safe:

- candidate selection = filter -> orderBy -> limit(how_many): Spark
  plans a distributed top-k (TakeOrdered), never a global sort;
- the cap budget is a 1-row aggregate cross-joined in, so the bound
  `min(how_many, budget)` is applied lazily — no driver collect;
- disjointness across concurrent callers comes from the serialized
  applier, not from row locks.

All functions return lazy DataFrames; statuses follow the reference's
per-row codes (CONDITION_NOT_MET etc.).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from ..query.filters import Pred, translate
from ..query.index import Index, IndexOrder, IndexType
from .mutate import (
    STATUS_CONDITION_NOT_MET,
    STATUS_PATCHED,
    PatchOp,
    patch_treasures,
)


@dataclass(frozen=True)
class Cap:
    """Quota: post-op count of rows matching ``filter`` must stay
    <= max_matching (proto:1136-1162)."""

    filter: Pred
    max_matching: int


def _bounded_candidates(
    df: DataFrame,
    index: Index,
    filt: Optional[Pred],
    how_many: int,
    cap: Optional[Cap],
) -> DataFrame:
    """Ordered candidate selection bounded by min(how_many, cap budget).

    Static bound first (orderBy+limit → distributed top-k over at most
    how_many rows), then the dynamic cap budget trims the tiny result —
    the expensive part never depends on the runtime budget."""
    cand = df
    if filt is not None:
        cand = cand.filter(translate(filt, cand))
    pred = index.bounds_predicate()
    if pred is not None:
        cand = cand.filter(pred)
    cand = cand.orderBy(*index.sort_columns()).limit(how_many)

    if cap is None:
        return cand

    current = df.agg(
        F.sum(F.when(translate(cap.filter, df), 1).otherwise(0)).alias("_cap_current")
    ).select(
        F.greatest(
            F.lit(cap.max_matching) - F.coalesce(F.col("_cap_current"), F.lit(0)),
            F.lit(0),
        ).alias("_budget")
    )
    w = W.orderBy(*index.sort_columns())
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(current))
        .filter(F.col("_rn") <= F.col("_budget"))
        .drop("_rn", "_budget")
    )


def shift_expired(
    df: DataFrame,
    now: datetime,
    how_many: int,
    key_col: str = "key",
    expired_col: str = "expired_at",
) -> DataFrame:
    """Reference ``ShiftExpiredTreasures`` (proto:159-177): select rows
    with expired_at < now — oldest first — and return them (TTL-queue
    pop). Returns the claim; removing it from the state is the storage
    layer's commit (``TreasureStore.shift_expired``).

    The §1.4 rule applies: rows with NULL expired_at are not in the
    expiration index, hence never claimable (encoded in Index bounds)."""
    idx = Index(
        index_type=IndexType.EXPIRATION_TIME,
        order=IndexOrder.ASC,
        to_time=now,
        key_column=key_col,
    )
    return _bounded_candidates(df, idx, None, how_many, None)


def shift_matching(
    df: DataFrame,
    index: Index,
    filt: Optional[Pred],
    how_many: int,
    cap: Optional[Cap] = None,
) -> DataFrame:
    """Reference ``ShiftMatchingTreasures`` (proto:191-216): parametric
    claim — any index + order + FilterGroup + HowMany + Cap. Returns the
    claim, empty when the cap budget is 0; removing it from the state is
    the storage layer's commit (``TreasureStore.shift_matching``)."""
    return _bounded_candidates(df, index, filt, how_many, cap)


def patch_expired(
    df: DataFrame,
    now: datetime,
    how_many: int,
    lease: timedelta,
    ops: Sequence[PatchOp] = (),
    condition: Optional[Pred] = None,
    cap: Optional[Cap] = None,
    key_col: str = "key",
    expired_col: str = "expired_at",
    body_col: str = "body",
) -> tuple[DataFrame, DataFrame]:
    """Reference ``PatchExpiredTreasures`` (proto:494-522): lease-style
    claim — select expired rows (oldest first), apply the patch op-set
    and slide expired_at forward by ``lease`` (crash-recovery deadline);
    per-row condition failures are re-inserted UNCHANGED and reported
    CONDITION_NOT_MET (proto:508-512).

    Returns (results, new_state): ``results`` carries every selected row
    with ``patch_status``; ``new_state`` is the full table after the
    claim (patched rows re-inserted at the new expiration)."""
    idx = Index(
        index_type=IndexType.EXPIRATION_TIME,
        order=IndexOrder.ASC,
        to_time=now,
        key_column=key_col,
    )
    selected = _bounded_candidates(df, idx, None, how_many, cap)

    patched = patch_treasures(selected, list(ops), condition, key_col, body_col)
    # lease deadline is measured from `now`, not from the old expiry
    slid = patched.withColumn(
        expired_col,
        F.when(
            F.col("patch_status") == STATUS_PATCHED,
            F.lit(now) + F.make_interval(secs=F.lit(lease.total_seconds())),
        ).otherwise(F.col(expired_col)),
    )
    untouched = df.join(slid.select(key_col), key_col, "left_anti")
    new_state = untouched.unionByName(slid.drop("patch_status"))
    return slid, new_state
