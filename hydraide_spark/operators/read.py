"""The read surface: keyed reads, full scans, ordered/filtered streams,
multi-swamp fan-in, profile reads, counts, existence checks.

Maps the reference's read RPCs (SURVEY.md §2.1) onto declarative
DataFrame plans. Every function returns a *lazy* DataFrame — streaming
a result to a client (the reference's gRPC server-streaming) is
``df.toLocalIterator()`` at the edge; nothing here collects.

Scale notes:
- keyed reads use ``isin`` for small key lists (pushed to the Parquet
  scan as an IN filter) and a broadcast semi-join for large ones — the
  two physical strategies the reference gets from its hash map, chosen
  here by list size.
- multi-swamp fan-in is a union, not a join: Catalyst pushes the
  per-swamp predicates into each branch scan.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..query.filters import Pred, translate
from ..query.index import Index
from ..session import local_frame

# Above this many keys an IN-list stops pushing down usefully; switch to
# a broadcast semi-join (the relational form of "batch keyed read").
ISIN_THRESHOLD = 256


def _keys_predicate(
    df: DataFrame, keys: Sequence[str], key_column: str, negate: bool = False
) -> DataFrame:
    """The rows of ``df`` whose key is in ``keys`` — or, with
    ``negate``, every other row (a NULL key counts as not listed)."""
    if len(keys) <= ISIN_THRESHOLD:
        listed = F.col(key_column).isin(list(keys))
        if negate:
            return df.filter(~F.coalesce(listed, F.lit(False)))
        return df.filter(listed)
    spark = df.sparkSession
    kdf = local_frame(spark, [(k,) for k in keys], [key_column])
    return df.join(
        F.broadcast(kdf), key_column, "left_anti" if negate else "left_semi"
    )


def get(df: DataFrame, keys: Sequence[str], key_column: str = "key") -> DataFrame:
    """Point/multi-point read by key (reference ``Get``).

    Missing keys are silently absent and order is not preserved, matching
    the reference's batched-read contract (proto:105-125)."""
    return _keys_predicate(df, keys, key_column)


def get_all(df: DataFrame, swamp: Optional[str] = None, swamp_column: str = "swamp") -> DataFrame:
    """Full-swamp scan (reference ``GetAll``)."""
    if swamp is not None:
        df = df.filter(F.col(swamp_column) == swamp)
    return df


def get_by_keys(
    df: DataFrame,
    keys: Sequence[str],
    keys_only: bool = False,
    include_keys: Optional[Sequence[str]] = None,
    exclude_keys: Optional[Sequence[str]] = None,
    key_column: str = "key",
) -> DataFrame:
    """Batch keyed read with include/exclude sets and keys-only projection
    (reference ``GetByKeys``, proto:1447-1483). Include/exclude apply
    before anything else — the cheapest rejection, and in Spark the one
    Catalyst pushes into the scan."""
    out = _keys_predicate(df, keys, key_column)
    if include_keys is not None:
        out = out.filter(F.col(key_column).isin(list(include_keys)))
    if exclude_keys:
        out = out.filter(~F.col(key_column).isin(list(exclude_keys)))
    if keys_only:
        out = out.select(key_column)
    return out


def get_by_index(df: DataFrame, index: Index) -> DataFrame:
    """Ordered scan: sort by index, offset/limit, optional time bounds
    (reference ``GetByIndex``). All semantics live in ``Index.apply``."""
    return index.apply(df)


def get_by_index_stream(
    df: DataFrame,
    index: Index,
    filt: Optional[Pred] = None,
    max_results: Optional[int] = None,
    keys_only: bool = False,
    include_keys: Optional[Sequence[str]] = None,
    exclude_keys: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Ordered + filtered streaming read (reference ``GetByIndexStream``)
    — the engine's "SELECT".

    Order of application mirrors the reference gateway (gateway.go:632-752):
    key include/exclude first (cheapest), then the predicate, then the
    ordered walk with MaxResults. Declaratively the order doesn't matter —
    Catalyst reorders the cheap conjuncts ahead of expensive ones and
    pushes them into the scan; the written order documents intent.
    """
    out = df
    if include_keys is not None:
        out = out.filter(F.col(index.key_column).isin(list(include_keys)))
    if exclude_keys:
        out = out.filter(~F.col(index.key_column).isin(list(exclude_keys)))
    if filt is not None:
        out = out.filter(translate(filt, out))
    out = index.apply(out)
    if max_results is not None:
        out = out.limit(max_results)
    if keys_only:
        out = out.select(index.key_column)
    return out


def get_by_index_stream_from_many(
    sources: Sequence[tuple[str, DataFrame]],
    index: Index,
    filt: Optional[Pred] = None,
    max_results: Optional[int] = None,
    source_column: str = "source_swamp",
) -> DataFrame:
    """Fan-in over N swamps with a global cap (reference
    ``GetByIndexStreamFromMany``): per-source ordered+filtered reads,
    tagged with the source swamp, unioned, globally re-limited."""
    parts = []
    for name, df in sources:
        p = get_by_index_stream(df, index, filt=filt)
        parts.append(p.withColumn(source_column, F.lit(name)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if max_results is not None:
        # global cap needs a global order to be deterministic; reuse the
        # index's sort (with its key tiebreaker)
        out = out.orderBy(*index.sort_columns()).limit(max_results)
    return out


def get_by_index_stream_from_many_single_scan(
    df: DataFrame,
    swamps: Sequence[str],
    index: Index,
    filt: Optional[Pred] = None,
    max_results: Optional[int] = None,
    swamp_column: str = "swamp",
    source_column: str = "source_swamp",
) -> DataFrame:
    """Single-scan FromMany for the common case where every swamp shares
    the same query params and lives in one partitioned table: one scan
    (partition-pruned by the swamp IN-list), per-swamp offset/limit via
    a window partitioned by swamp, then the global cap. Replaces N scans
    + N sorts of the union form with one scan + one shuffle — the shape
    that wins when N is thousands of swamps at 100 TB.

    Semantics match :func:`get_by_index_stream_from_many` over the same
    data (asserted in tests/test_plans.py)."""
    from pyspark.sql import Window as W

    out = df.filter(F.col(swamp_column).isin(list(swamps)))
    if filt is not None:
        out = out.filter(translate(filt, out))
    pred = index.bounds_predicate()
    if pred is not None:
        out = out.filter(pred)
    if index.offset or index.limit is not None:
        w = W.partitionBy(swamp_column).orderBy(*index.sort_columns())
        out = out.withColumn("_rn", F.row_number().over(w))
        lo = index.offset
        hi = lo + index.limit if index.limit is not None else None
        cond = F.col("_rn") > lo
        if hi is not None:
            cond = cond & (F.col("_rn") <= hi)
        out = out.filter(cond).drop("_rn")
    out = out.withColumn(source_column, F.col(swamp_column))
    if max_results is not None:
        out = out.orderBy(*index.sort_columns()).limit(max_results)
    return out


def profile_read(
    df: DataFrame,
    filt: Optional[Pred] = None,
    fields: Optional[Sequence[str]] = None,
    key_column: str = "key",
) -> DataFrame:
    """Profile-mode read (reference ``GetStream``, proto:2916-2954): the
    reference stores one Treasure per field and emits the whole profile
    iff TreasureKey-targeted filters pass. On a wide table that is just
    a row filter + column projection."""
    out = df
    if filt is not None:
        out = out.filter(translate(filt, out))
    if fields is not None:
        out = out.select(key_column, *fields)
    return out


def count(df: DataFrame, group_columns: Sequence[str] = ("swamp",)) -> DataFrame:
    """Element count per swamp (reference ``Count``) — generalized to any
    namespace prefix, which is the Spark reading of "scale by namespace"."""
    return df.groupBy(*group_columns).agg(F.count(F.lit(1)).alias("count"))


def count_matching(df: DataFrame, filt: Pred) -> DataFrame:
    """Count of rows matching a FilterGroup (reference ``CountMatching``)."""
    return df.filter(translate(filt, df)).agg(F.count(F.lit(1)).alias("count"))


def keys_exist(df: DataFrame, keys: Sequence[str], key_column: str = "key") -> DataFrame:
    """Per-key existence map (reference ``AreKeysExist``, proto:299-340):
    returns every requested key with an ``exists`` boolean."""
    spark = df.sparkSession
    kdf = local_frame(spark, [(k,) for k in keys], [key_column])
    present = df.select(key_column).distinct().withColumn("exists", F.lit(True))
    return (
        kdf.join(present, key_column, "left")
        .select(key_column, F.coalesce(F.col("exists"), F.lit(False)).alias("exists"))
    )
