"""The filter algebra: recursive AND/OR predicate trees -> Spark Columns.

This is the engine's query IR, mirroring the reference's protobuf
``FilterGroup`` / ``TreasureFilter`` surface (reference
``proto/hydraide.proto:2475-2905``, evaluators
``app/server/gateway/filter.go`` and ``filter_native.go``) — but the
*execution* is entirely Catalyst: every predicate folds into a single
``Column`` expression, so predicate pushdown, conjunct reordering, and
whole-stage codegen apply for free. No row-at-a-time evaluation exists
anywhere in this module.

Semantics preserved from the reference (each noted inline):

- empty group => pass-all                      (proto:2561-2586)
- missing nested path => no-match              (filter.go:331-390)
- ``A.B.#len`` pseudo-path = size at path      (filter.go:339-349)
- ``A.Tags[*]`` wildcard = ANY element         (filter.go:352-377)
- IS_EMPTY = unset OR empty string/slice/map   (filter_native.go:236-278)
- SLICE_CONTAINS_SUBSTRING is case-insensitive (filter.go:656-671)
- nested-slice quantifiers: empty slice => ANY false, ALL/NONE true
                                               (proto:2588-2631)
- phrase = all words at consecutive positions  (filter.go:562-589)
- vector = dot of L2-normalized vectors >= s; dim mismatch => no match
                                               (filter.go:594-645)
- geo: Haversine INSIDE/OUTSIDE with bounding-box pre-filter and
  Null Island (0,0) always excluded            (filter.go:18-56)
- labeled filters report which predicates matched, without OR
  short-circuit                                (filter.go:125-217)

Scale note: predicates here are *expressions*, so at 100 TB the cheap
conjuncts (scalar ranges, bbox) are pushed into the Parquet scan by
Catalyst while the expensive ones (phrase/vector trig) run only on
surviving rows — same cheap-before-expensive discipline the reference's
planner applies, but enforced by the optimizer rather than hand-ordering.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from enum import Enum
from functools import reduce
from typing import Any, Callable, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

EARTH_RADIUS_KM = 6371.0088


class Op(Enum):
    EQ = "=="
    NE = "!="
    GT = ">"
    GE = ">="
    LT = "<"
    LE = "<="
    CONTAINS = "contains"
    NOT_CONTAINS = "not_contains"
    STARTS_WITH = "starts_with"
    ENDS_WITH = "ends_with"
    IS_EMPTY = "is_empty"
    IS_NOT_EMPTY = "is_not_empty"
    IN = "in"
    NOT_IN = "not_in"
    HAS_KEY = "has_key"
    HAS_NOT_KEY = "has_not_key"
    SLICE_CONTAINS = "slice_contains"
    SLICE_NOT_CONTAINS = "slice_not_contains"
    SLICE_CONTAINS_SUBSTRING = "slice_contains_substring"
    SLICE_NOT_CONTAINS_SUBSTRING = "slice_not_contains_substring"


class Quant(Enum):
    ANY = "any"
    ALL = "all"
    NONE = "none"
    COUNT = "count"


# ---------------------------------------------------------------------------
# Predicate tree nodes


@dataclass(frozen=True)
class Cmp:
    """A single typed predicate on a (possibly nested) field path."""

    field: str
    op: Op
    value: Any = None


@dataclass(frozen=True)
class And:
    items: Sequence["Pred"] = ()


@dataclass(frozen=True)
class Or:
    items: Sequence["Pred"] = ()


@dataclass(frozen=True)
class Not:
    """Convenience negation (the reference expresses negation per-op)."""

    item: "Pred"


@dataclass(frozen=True)
class NestedWhere:
    """Quantified per-element FilterGroup over an array-of-struct field."""

    field: str
    group: "Pred"
    quant: Quant = Quant.ANY
    count_op: Op = Op.GE
    count_value: int = 1


@dataclass(frozen=True)
class Phrase:
    """All words present at consecutive positions in a word-position index
    (``MAP<STRING, ARRAY<INT>>`` field).

    ``pandas_mode`` switches from the codegen'd higher-order-function
    encoding to an Arrow-batched pandas UDF — the fallback SURVEY §7
    keeps ready for corpora where the HOF check's O(first-word
    positions × words) per row dominates (very long position lists);
    semantics are identical (tested equivalent)."""

    field: str
    words: Sequence[str]
    negate: bool = False
    pandas_mode: bool = False


@dataclass(frozen=True)
class VectorSim:
    """Cosine similarity (dot of L2-normalized vectors) >= min_similarity."""

    field: str
    query: Sequence[float]
    min_similarity: float
    normalize: bool = False  # normalize both sides in-expression


@dataclass(frozen=True)
class GeoDistance:
    """Haversine distance vs a reference point, INSIDE (<= r) / OUTSIDE (> r)."""

    lat_field: str
    lng_field: str
    ref_lat: float
    ref_lng: float
    radius_km: float
    inside: bool = True


@dataclass(frozen=True)
class Labeled:
    label: str
    pred: "Pred"


Pred = Union[Cmp, And, Or, Not, NestedWhere, Phrase, VectorSim, GeoDistance, Labeled]

Resolver = Callable[[str], Column]


# ---------------------------------------------------------------------------
# Path resolution: dots, [*] wildcard, #len pseudo-field


def _split_path(path: str) -> list[str]:
    return [s for s in path.split(".") if s]


def _resolve_against(base: Optional[Column], path: str) -> tuple[Column, Optional[str]]:
    """Resolve ``path`` to a Column; if the path crosses a ``[*]`` wildcard,
    return (array_column, remaining_subpath) for exists-style evaluation."""
    segs = _split_path(path)
    col = base
    for i, seg in enumerate(segs):
        wildcard = seg.endswith("[*]")
        name = seg[:-3] if wildcard else seg
        if name == "#len":
            if col is None:
                raise ValueError("#len needs a preceding path")
            return F.size(col), None
        if name:
            col = F.col(name) if col is None else col[name]
        if wildcard:
            if col is None:
                raise ValueError(f"wildcard with no array path in {path!r}")
            rest = ".".join(segs[i + 1 :])
            return col, rest if rest else ""
    if col is None:
        raise ValueError(f"empty field path {path!r}")
    return col, None


def _default_resolver(path: str) -> tuple[Column, Optional[str]]:
    return _resolve_against(None, path)


# ---------------------------------------------------------------------------
# dtype inference (needed for IS_EMPTY's dynamic-type semantics)


def _dtype_of(df: Optional[DataFrame], col: Column) -> Optional[T.DataType]:
    if df is None:
        return None
    try:
        return df.select(col.alias("_t")).schema[0].dataType
    except Exception:
        return None


# ---------------------------------------------------------------------------
# Scalar op -> Column


def _lit_value(v: Any) -> Column:
    if isinstance(v, Column):
        return v
    return F.lit(v)


def _scalar_op(col: Column, op: Op, value: Any, dtype: Optional[T.DataType]) -> Column:
    """One typed predicate on a resolved (non-wildcard) Column.

    NULL handling follows the reference's missing-path => no-match rule:
    every positive or negative operator evaluates to FALSE on NULL input
    (reference filter.go:331-390), except the emptiness probes which
    treat NULL as empty (filter_native.go:236-278).
    """
    if op is Op.IS_EMPTY or op is Op.IS_NOT_EMPTY:
        if isinstance(dtype, (T.ArrayType, T.MapType)):
            empty = col.isNull() | (F.size(col) == 0)
        elif isinstance(dtype, T.StringType) or dtype is None:
            empty = col.isNull() | (col == F.lit(""))
        else:
            empty = col.isNull()
        return empty if op is Op.IS_EMPTY else ~empty

    if op is Op.HAS_KEY or op is Op.HAS_NOT_KEY:
        k = _lit_value(value)
        if isinstance(dtype, T.StructType):
            names = [f.name for f in dtype.fields]
            has = (
                F.lit(value in names) & col.isNotNull()
                if isinstance(value, str)
                else F.lit(False)
            )
        else:
            has = F.coalesce(F.map_contains_key(col, k), F.lit(False))
        return has if op is Op.HAS_KEY else col.isNotNull() & ~has

    if op in (Op.SLICE_CONTAINS, Op.SLICE_NOT_CONTAINS):
        has = F.coalesce(F.array_contains(col, _lit_value(value)), F.lit(False))
        return has if op is Op.SLICE_CONTAINS else col.isNotNull() & ~has

    if op in (Op.SLICE_CONTAINS_SUBSTRING, Op.SLICE_NOT_CONTAINS_SUBSTRING):
        needle = F.lower(_lit_value(value))
        has = F.coalesce(
            F.exists(col, lambda x: F.instr(F.lower(x), needle) > 0), F.lit(False)
        )
        return has if op is Op.SLICE_CONTAINS_SUBSTRING else col.isNotNull() & ~has

    if op is Op.IN:
        # NULL input -> NULL -> no-match under a filter; raw isin stays
        # pushable to the parquet scan (In(...) in PushedFilters)
        return col.isin(list(value))
    if op is Op.NOT_IN:
        return col.isNotNull() & ~col.isin(list(value))

    v = _lit_value(value)
    # Raw SQL three-valued logic gives exactly the reference's
    # missing-path => no-match semantics under a filter (NULL rows drop),
    # while keeping every predicate *pushable* — wrapping in
    # coalesce(pred, false) would block parquet predicate pushdown
    # entirely. Projection contexts that need a real boolean use
    # translate_bool().
    return {
        Op.EQ: lambda: col == v,
        Op.NE: lambda: col != v,
        Op.GT: lambda: col > v,
        Op.GE: lambda: col >= v,
        Op.LT: lambda: col < v,
        Op.LE: lambda: col <= v,
        Op.CONTAINS: lambda: col.contains(v),
        Op.NOT_CONTAINS: lambda: ~col.contains(v),
        Op.STARTS_WITH: lambda: col.startswith(v),
        Op.ENDS_WITH: lambda: col.endswith(v),
    }[op]()


# ---------------------------------------------------------------------------
# Specialty predicate encodings (shared with hydraide_spark.functions)


def phrase_column(map_col: Column, words: Sequence[str]) -> Column:
    """TRUE iff all ``words`` occur at consecutive positions in the
    word->sorted-positions map (reference filter.go:562-589).

    Encoding: for each starting position p of words[0], check that
    words[i] has position p+i — all inside higher-order functions, so the
    whole check is one codegen'd expression; no shuffle, no UDF.
    """
    words = list(words)
    if not words:
        return F.lit(True)
    first = F.element_at(map_col, F.lit(words[0]))

    def consecutive(p: Column) -> Column:
        conds = []
        for i, w in enumerate(words[1:], start=1):
            positions = F.element_at(map_col, F.lit(w))
            conds.append(
                F.when(positions.isNotNull(), F.array_contains(positions, p + i))
                .otherwise(F.lit(False))
            )
        return reduce(lambda a, b: a & b, conds, F.lit(True))

    return F.coalesce(F.exists(first, consecutive), F.lit(False))


def phrase_column_pandas(map_col: Column, words: Sequence[str]) -> Column:
    """Arrow-batched pandas fallback for :func:`phrase_column` — same
    consecutive-positions semantics, evaluated with Python sets per row.
    Worth it only when position lists are long enough that the HOF
    encoding's O(|positions(w0)| * k) array probes lose to set lookups;
    batch transfer is Arrow, never row-at-a-time."""
    words = list(words)
    if not words:
        return F.lit(True)

    import pandas as pd  # noqa: F401 — resolves the UDF's string type hints
    globals()["pd"] = pd
    from pyspark.sql.functions import pandas_udf

    rest = words[1:]

    @pandas_udf("boolean")
    def matcher(maps: pd.Series) -> pd.Series:
        out = []
        for m in maps:
            if m is None:
                out.append(False)
                continue
            first = m.get(words[0])
            if first is None or any(m.get(w) is None for w in rest):
                out.append(False)
                continue
            sets = [set(m[w]) for w in rest]
            out.append(
                any(all(p + i in s for i, s in enumerate(sets, start=1)) for p in first)
            )
        return pd.Series(out)

    return matcher(map_col)


# --- SQL-text twins of the vector-math expression builders (r16) ----------
#
# Building these higher-order-function expressions through the Column
# API costs ~25-30 ms of py4j round trips PER CALL (each lambda is a
# dozen JVM object constructions); one SQL parse builds the identical
# Catalyst tree in ~1 ms. The templates mirror the API construction
# token for token — pyspark names lambda parameters positionally
# (x/y/z + a global counter), so the SQL variables use the same
# letters with a digit suffix and the plans are byte-identical after
# number normalization (verified per query in plans/r16). Helpers
# below accept ``Column | str``: a str is a SQL fragment and routes
# through the single-parse path.


def dot_product_sql(a: str, b: str) -> str:
    """SQL text of :func:`dot_product` over two SQL array fragments."""
    return (
        f"aggregate(zip_with({a}, {b}, (x_0, y_0) -> CAST(x_0 AS DOUBLE)"
        f" * CAST(y_0 AS DOUBLE)), 0.0D, (x_1, y_1) -> x_1 + y_1)"
    )


def l2_norm_sql(a: str) -> str:
    """SQL text of :func:`l2_norm` over a SQL array fragment."""
    return (
        f"sqrt(aggregate({a}, 0.0D, (x_0, y_0) -> x_0 +"
        f" CAST(y_0 AS DOUBLE) * CAST(y_0 AS DOUBLE)))"
    )


def cosine_similarity_sql(a: str, b: str) -> str:
    """SQL text of :func:`cosine_similarity` over SQL array fragments."""
    return f"({dot_product_sql(a, b)} / ({l2_norm_sql(a)} * {l2_norm_sql(b)}))"


def dot_product(a: "Column | str", b: "Column | str") -> Column:
    """Dot product of two float array columns, accumulated in double.

    Pure higher-order-function encoding (zip_with + aggregate) — stays
    JVM-side. For very high dimensional batch scoring the pandas-UDF
    variant in ``functions.vector`` trades this for numpy BLAS.
    ``str`` inputs are SQL fragments: the whole expression then builds
    via ONE SQL parse instead of ~30 py4j round trips (identical tree).
    """
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(dot_product_sql(a, b))
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: "Column | str") -> Column:
    if isinstance(a, str):
        return F.expr(l2_norm_sql(a))
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine_similarity(a: "Column | str", b: "Column | str") -> Column:
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(cosine_similarity_sql(a, b))
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


def vector_score_column(vs: VectorSim, resolver: Optional[Resolver] = None) -> Column:
    col, wc = _default_resolver(vs.field) if resolver is None else (resolver(vs.field), None)
    if wc is not None:
        raise ValueError("vector field cannot contain [*]")
    q = [float(x) for x in vs.query]
    qcol = F.array(*[F.lit(x) for x in q]).cast("array<double>")
    if vs.normalize:
        score = cosine_similarity(col, qcol)
    else:
        score = dot_product(col, qcol)
    # dimension mismatch => no match (reference filter.go:594-608)
    return F.when(F.size(col) == len(q), score).otherwise(F.lit(None))


def haversine_km(lat1: Column, lng1: Column, lat2: Column, lng2: Column) -> Column:
    """Great-circle distance in km (the reference's formula, filter.go:18-32)."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlng = F.radians(lng2 - lng1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlng / 2) * F.sin(dlng / 2)
    )
    return F.lit(2 * EARTH_RADIUS_KM) * F.atan2(F.sqrt(a), F.sqrt(1 - a))


def geo_column(g: GeoDistance, resolver: Optional[Resolver] = None) -> Column:
    res = (lambda p: _default_resolver(p)[0]) if resolver is None else resolver
    lat, lng = res(g.lat_field), res(g.lng_field)
    not_null_island = ~((lat == 0.0) & (lng == 0.0)) & lat.isNotNull() & lng.isNotNull()

    # Bounding-box pre-filter (reference filter.go:34-56): cheap range
    # predicates Catalyst pushes into the scan; the trig runs only on
    # rows inside the box (INSIDE) / is skipped for rows outside it
    # (OUTSIDE short-circuit accept).
    dlat = math.degrees(g.radius_km / EARTH_RADIUS_KM)
    cos_lat = math.cos(math.radians(g.ref_lat))
    dlng = 180.0 if abs(cos_lat) < 1e-9 else math.degrees(
        g.radius_km / (EARTH_RADIUS_KM * abs(cos_lat))
    )
    in_bbox = (
        lat.between(g.ref_lat - dlat, g.ref_lat + dlat)
        & lng.between(g.ref_lng - dlng, g.ref_lng + dlng)
    )
    dist = haversine_km(lat, lng, F.lit(g.ref_lat), F.lit(g.ref_lng))
    if g.inside:
        return not_null_island & in_bbox & (dist <= g.radius_km)
    return not_null_island & (~in_bbox | (dist > g.radius_km))


# ---------------------------------------------------------------------------
# Tree translation


def _translate(pred: Pred, df: Optional[DataFrame], base: Optional[Column]) -> Column:
    resolve = lambda p: _resolve_against(base, p)  # noqa: E731

    if isinstance(pred, Labeled):
        return _translate(pred.pred, df, base)

    if isinstance(pred, And):
        if not pred.items:  # empty group => pass-all (proto:2561-2586)
            return F.lit(True)
        return reduce(lambda a, b: a & b, (_translate(p, df, base) for p in pred.items))

    if isinstance(pred, Or):
        if not pred.items:
            return F.lit(True)
        return reduce(lambda a, b: a | b, (_translate(p, df, base) for p in pred.items))

    if isinstance(pred, Not):
        return ~_translate(pred.item, df, base)

    if isinstance(pred, Cmp):
        col, wildcard_rest = resolve(pred.field)
        if wildcard_rest is None:
            # dtype probing only works for top-level (non-lambda) columns
            dtype = _dtype_of(df, col) if base is None else None
            return _scalar_op(col, pred.op, pred.value, dtype)
        # [*] wildcard: ANY element satisfies the op (filter.go:352-377).
        rest = wildcard_rest

        def per_element(e: Column) -> Column:
            sub, wc = (_resolve_against(e, rest) if rest else (e, None))
            if wc is not None:
                raise ValueError("nested [*] wildcards are not supported")
            return _scalar_op(sub, pred.op, pred.value, None)

        return F.coalesce(F.exists(col, per_element), F.lit(False))

    if isinstance(pred, NestedWhere):
        arr, wc = resolve(pred.field)
        if wc is not None:
            raise ValueError("NestedWhere field cannot itself contain [*]")

        def elem_pred(e: Column) -> Column:
            return _translate(pred.group, df, e)

        if pred.quant is Quant.ANY:
            # empty or missing slice => false (proto:2588-2631)
            return F.coalesce(F.exists(arr, elem_pred), F.lit(False))
        if pred.quant is Quant.ALL:
            # empty slice => true; missing slice => no-match
            return arr.isNotNull() & F.forall(arr, elem_pred)
        if pred.quant is Quant.NONE:
            return arr.isNotNull() & ~F.coalesce(F.exists(arr, elem_pred), F.lit(False))
        # COUNT: number of matching elements <count_op> count_value;
        # the isNotNull guard matters because size(NULL) is -1 in
        # non-ANSI Spark and would otherwise satisfy LT/LE comparisons
        n = F.size(F.filter(arr, elem_pred))
        return arr.isNotNull() & _scalar_op(n, pred.count_op, pred.count_value, T.IntegerType())

    if isinstance(pred, Phrase):
        col, wc = resolve(pred.field)
        if wc is not None:
            raise ValueError("phrase field cannot contain [*]")
        builder = phrase_column_pandas if pred.pandas_mode else phrase_column
        hit = builder(col, pred.words)
        return ~hit if pred.negate else hit

    if isinstance(pred, VectorSim):
        score = vector_score_column(pred, resolver=lambda p: resolve(p)[0])
        return F.coalesce(score >= F.lit(float(pred.min_similarity)), F.lit(False))

    if isinstance(pred, GeoDistance):
        return geo_column(pred, resolver=lambda p: resolve(p)[0])

    raise TypeError(f"unknown predicate node: {type(pred).__name__}")


def translate(pred: Pred, df: Optional[DataFrame] = None) -> Column:
    """Fold a predicate tree into one boolean Column for FILTERING.

    ``df`` is optional and only consulted for dynamic-type decisions
    (IS_EMPTY on arrays/maps vs strings); the returned Column is valid
    against any DataFrame with the referenced fields.

    The result uses SQL three-valued logic: rows where a referenced
    field is NULL evaluate to NULL, which a filter drops — exactly the
    reference's missing-path => no-match rule — while every conjunct
    stays pushable into the scan. To *project* the predicate as a
    boolean column (labels, status fields), use :func:`translate_bool`.
    """
    return _translate(pred, df, None)


def translate_bool(pred: Pred, df: Optional[DataFrame] = None) -> Column:
    """Predicate as a real three-state-free boolean (NULL -> false) for
    projection contexts."""
    return F.coalesce(_translate(pred, df, None), F.lit(False))


def with_search_meta(
    df: DataFrame,
    labeled: Sequence[Labeled],
    matched_col: str = "matched_labels",
    require_any: bool = True,
) -> DataFrame:
    """Labeled-filter evaluation (reference SearchResultMeta,
    filter.go:125-217): every labeled predicate is evaluated (no OR
    short-circuit), the list of matching labels is attached, and vector
    predicates additionally attach a ``score_<label>`` column.

    All label predicates evaluate in ONE projection — a single pass over
    the data, no per-label scans.
    """
    flags = []
    score_cols: dict[str, Column] = {}
    for lb in labeled:
        flags.append((lb.label, translate(lb.pred, df)))
        if isinstance(lb.pred, VectorSim):
            score_cols[f"score_{lb.label}"] = vector_score_column(lb.pred)
    matched = F.array_compact(
        F.array(*[F.when(c, F.lit(name)) for name, c in flags])
    )
    out = df.withColumn(matched_col, matched)
    for name, c in score_cols.items():
        out = out.withColumn(name, c)
    if require_any:
        out = out.filter(F.size(F.col(matched_col)) > 0)
    return out
