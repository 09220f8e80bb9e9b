"""Golden queries: relational capability anchors — TPC-H Q6/Q18 shapes
and result-set set operations (SURVEY.md §2.3/§2.4/§2.7).

The reference composes everything client-side over KV reads; these
queries pin the full relational surface a migrating user gains: pure
scan-side filter+aggregate (Q6 — the pushdown showcase), join against a
grouped-HAVING derived table (Q18 — semi-join on an aggregate), and
INTERSECT/EXCEPT over result sets (the reference only has value-level
set semantics, SURVEY §2.7).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import golden
from ._util import big, dbl, dec, t


@golden(
    "tpch_q6_revenue_delta",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))
                    * CAST(l_discount AS DECIMAL(28,2))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_revenue_delta(spark, sf_dir):
    """TPC-H Q6 shape: the whole predicate set (date range + discount
    band + quantity cap) is scan-pushable — the plan must show every
    conjunct in PushedFilters and read only the four referenced columns;
    the aggregate is a single map-side partial + 1-row exchange. At
    100 TB this query's cost is exactly the cost of the pruned scan."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dbl(F.sum(dec("l_extendedprice") * dec("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@golden(
    "tpch_q18_large_orders",
    oracle="""
    SELECT c.c_name,
           CAST(o.o_orderkey AS BIGINT) AS o_orderkey,
           o.o_orderdate, o.o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS total_qty
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(28,2))) > 300
    )
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def tpch_q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: join the fact against a HAVING-filtered
    aggregate of itself. The big-orders key set is tiny after the
    HAVING (it broadcasts), so lineitem is scanned twice but shuffled
    on l_orderkey only once for the final group; the alternative —
    one scan + full-table window SUM — would shuffle the entire fact.
    Left-semi join keeps the probe side duplicate-free."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("qty"))
        .filter(F.col("qty") > 300)
        .select("l_orderkey")
    )
    return (
        li.join(F.broadcast(big_orders), "l_orderkey", "left_semi")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dbl(F.sum(dec("l_quantity"))).alias("total_qty"))
        .select(
            "c_name", big("o_orderkey").alias("o_orderkey"),
            "o_orderdate", "o_totalprice", "total_qty",
        )
    )


@golden(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT CAST(l.l_orderkey AS BIGINT) AS l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(28,2)))) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY SUM(CAST(l.l_extendedprice AS DECIMAL(28,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(28,2)))) DESC,
             l.l_orderkey ASC
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape (o_orderpriority standing in for the generator's
    missing o_shippriority): segment-filtered customers broadcast into
    orders, date filters pushed to both scans, one shuffle on the join
    key feeding the group, then a TakeOrdered top-10. Revenue aggregates
    and SORTS on exact DECIMAL (cast to double only for output), so the
    limit boundary cannot drift between engines; o_orderkey breaks
    ties deterministically."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    rev = F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
    return (
        li.filter(F.col("l_shipdate") > F.lit("1998-01-01"))
        .join(
            o.filter(F.col("o_orderdate") < F.lit("1998-01-01")),
            li.l_orderkey == o.o_orderkey,
        )
        .join(
            F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
            o.o_custkey == c.c_custkey,
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(rev.alias("_rev"))
        .orderBy(F.col("_rev").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select(
            big("l_orderkey").alias("l_orderkey"),
            dbl(F.col("_rev")).alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


@golden(
    "tpch_q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(28,2)))) AS DOUBLE) AS revenue
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
                     AND c.c_nationkey = s.s_nationkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def tpch_q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: the classic 6-way star — fact (lineitem) joined
    through orders to customer and through suppkey to supplier, with the
    'local supplier' constraint c_nationkey = s_nationkey, then the
    nation/region dimension chain. All four dimension sides broadcast
    (region->nation prunes suppliers map-side before the fact sees
    them); the only corpus-scale shuffles are lineitem x orders on the
    order key and the final tiny per-nation aggregate."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    dims = (
        s.join(
            F.broadcast(
                n.join(
                    F.broadcast(r.filter(F.col("r_name") == "ASIA")),
                    n.n_regionkey == r.r_regionkey,
                )
            ),
            s.s_nationkey == n.n_nationkey,
        )
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        li.join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01"))
                & (F.col("o_orderdate") < F.lit("1997-01-01"))
            ),
            li.l_orderkey == o.o_orderkey,
        )
        .join(F.broadcast(dims), li.l_suppkey == dims.s_suppkey)
        .join(
            F.broadcast(c),
            (o.o_custkey == c.c_custkey)
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            dbl(
                F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            ).alias("revenue")
        )
    )


@golden(
    "relational_set_ops",
    oracle="""
    WITH open_cust   AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
         closed_cust AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
    SELECT 'both' AS op, CAST(o_custkey AS BIGINT) AS custkey
      FROM (SELECT o_custkey FROM open_cust INTERSECT SELECT o_custkey FROM closed_cust)
    UNION ALL
    SELECT 'open_only' AS op, CAST(o_custkey AS BIGINT) AS custkey
      FROM (SELECT o_custkey FROM open_cust EXCEPT SELECT o_custkey FROM closed_cust)
    """,
)
def relational_set_ops(spark, sf_dir):
    """Result-set INTERSECT/EXCEPT — the relational lift of the
    reference's value-level set ops (`Uint32Slice*`, SURVEY §2.7).
    Catalyst executes both as aggregate-free hash semi/anti joins after
    a distinct; at scale each is one shuffle on the key, and the two
    branches share the cached distinct inputs."""
    o = t(spark, sf_dir, "orders")
    open_cust = o.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    closed_cust = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    both = open_cust.intersect(closed_cust).select(
        F.lit("both").alias("op"), big("o_custkey").alias("custkey")
    )
    open_only = open_cust.exceptAll(closed_cust).select(
        F.lit("open_only").alias("op"), big("o_custkey").alias("custkey")
    )
    return both.unionByName(open_only)


from ..functions.layout import zorder_key_sql as _zsql  # noqa: E402

_Z_BITS = 11
_Z_SQL = _zsql(["pz", "sz"], bits=_Z_BITS)


@golden(
    "zorder_layout_keys",
    oracle=f"""
    WITH st AS (
      SELECT min(l_partkey) AS pmn, max(l_partkey) AS pmx,
             min(l_suppkey) AS smn, max(l_suppkey) AS smx
      FROM lineitem
    ),
    b AS (
      SELECT l_orderkey, l_linenumber,
             ((l_partkey - pmn) * {1 << _Z_BITS}) // (pmx - pmn + 1) AS pz,
             ((l_suppkey - smn) * {1 << _Z_BITS}) // (smx - smn + 1) AS sz
      FROM lineitem, st
    )
    SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
           CAST(l_linenumber AS INT) AS l_linenumber,
           CAST({_Z_SQL} AS BIGINT) AS zkey
    FROM b
    """,
)
def zorder_layout_keys(spark, sf_dir):
    """Z-order (Morton) clustering key over (l_partkey, l_suppkey) —
    the multi-dimension generalization of the reference's single-beacon
    sort orders (app/core/beacon): interleaving the bits gives BOTH
    columns locality under one sort, so zone-map/row-group stats prune
    on either predicate after `repartitionByRange(zkey) +
    sortWithinPartitions(zkey)` at write time.

    Both dimensions are NORMALIZED onto [0, 2^bits) first so the
    zorder_key precondition holds at every sf — previously raw
    l_partkey exceeded 2^11 beyond sf0.02 and distant keys silently
    aliased (ADVICE r3); ``assert_zorder_domain`` now enforces it.
    Dense uniform keys take ``minmax_normalize`` (integer min-max
    binning: one tiny aggregate + a pure integer expression — no
    window, no shuffle, engine-exact by integer division);
    ``rank_normalize`` remains the pre-step for skewed domains."""
    from ..functions.layout import assert_zorder_domain, minmax_normalize, zorder_key

    li = t(spark, sf_dir, "lineitem")
    li = minmax_normalize(li, "l_partkey", _Z_BITS)
    li = minmax_normalize(li, "l_suppkey", _Z_BITS)
    assert_zorder_domain(li, ["l_partkey_zbin", "l_suppkey_zbin"], _Z_BITS)
    return li.select(
        big("l_orderkey").alias("l_orderkey"),
        F.col("l_linenumber").cast("int").alias("l_linenumber"),
        zorder_key(["l_partkey_zbin", "l_suppkey_zbin"], bits=_Z_BITS).alias("zkey"),
    )


@golden(
    "tpch_q7_nation_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(28,2)))) AS DOUBLE) AS volume
    FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
)
def tpch_q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape (two-nation shipping volume by year): the fact
    filtered by a pushed date range, supplier and customer sides each
    carrying a broadcast nation dimension, the cross-nation predicate
    applied as a pair disjunction AFTER both joins. Only corpus-scale
    shuffle is lineitem x orders on the order key; the per-(nation,
    nation, year) aggregate is tiny. Volume through exact DECIMAL.
    Nation constants are the synthetic testdata names (NATION_k) so the
    result is NON-empty at every sf — the FRANCE/GERMANY literals of
    the classic text matched nothing here and proved only the empty
    case."""
    s = t(spark, sf_dir, "supplier")
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair_ok = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(F.broadcast(s.join(F.broadcast(n1), s.s_nationkey == n1.n1_key)),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c.join(F.broadcast(n2), c.c_nationkey == n2.n2_key)),
              F.col("o_custkey") == F.col("c_custkey"))
        .filter(pair_ok)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            dbl(
                F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            ).alias("volume")
        )
        .select(
            "supp_nation", "cust_nation",
            F.col("l_year").cast("int").alias("l_year"), "volume",
        )
    )


@golden(
    "cube_pricing_matrix",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
             AS gid,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_pricing_matrix(spark, sf_dir):
    """CUBE over (returnflag, linestatus), two-level (r16, guide §2.3
    "aggregate before you shuffle" — here aggregate before you
    EXPAND): Spark's CUBE puts the Expand x4 BELOW the partial
    aggregate, so the fact's 600K rows became 2.4M hash-agg inputs
    with string keys. Both measures are distributive and exact (count
    is integer; quantity sums through DECIMAL, exactly associative),
    so aggregating by the full (flag, status) key first and cubing the
    ~6-row result computes bit-identical cells — the Expand now
    multiplies 6 rows, not 600K. grouping_id disambiguates
    aggregated-out dimensions from natural NULLs exactly as before
    (natural NULL keys survive the base aggregate as their own
    groups)."""
    li = t(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(dec("l_quantity")).alias("pq"),
    )
    return (
        base.cube("l_returnflag", "l_linestatus")
        .agg(
            big(F.grouping_id()).alias("gid"),
            big(F.sum("pn")).alias("n"),
            dbl(F.sum("pq")).alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")
    )


@golden(
    "unpivot_lineitem_measures",
    oracle="""
    SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
           CAST(l_linenumber AS INT) AS l_linenumber,
           m.measure, m.val
    FROM lineitem, LATERAL (VALUES
      ('l_quantity', l_quantity),
      ('l_extendedprice', l_extendedprice),
      ('l_discount', l_discount)
    ) AS m(measure, val)
    """,
)
def unpivot_lineitem_measures(spark, sf_dir):
    """UNPIVOT/melt: wide measures to long (measure, value) rows — the
    inverse of the profile pivot (operators/read.py::profile_read).
    Spark's unpivot is a zero-shuffle Expand node (each input row emits
    one output row per measure in the scan stage); values pass through
    bit-unchanged so the oracle is a plain lateral VALUES expansion."""
    li = t(spark, sf_dir, "lineitem")
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure",
        valueColumnName="val",
    ).select(
        big("l_orderkey").alias("l_orderkey"),
        F.col("l_linenumber").cast("int").alias("l_linenumber"),
        "measure", "val",
    )


@golden(
    "exact_quantiles_by_flag",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.5)  AS q50,
           quantile_cont(l_quantity, 0.75) AS q75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def exact_quantiles_by_flag(spark, sf_dir):
    """EXACT linear-interpolated quantiles per group (Spark
    `percentile` == DuckDB `quantile_cont`: rank = (n-1)*p, value =
    lo + (hi-lo)*frac). Quartile fractions are DYADIC (exact in
    binary), and l_quantity is integral, so the interpolation
    arithmetic is bit-identical across engines — non-dyadic p (0.9,
    0.99) would put a last-ulp product into the compared value and is
    deliberately avoided; approx paths use the sketch family
    (hll_distinct_rollup etc.)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.25).alias("q25"),
        F.percentile("l_quantity", 0.5).alias("q50"),
        F.percentile("l_quantity", 0.75).alias("q75"),
    )


@golden(
    "validation_report_lineitem",
    oracle="""
    SELECT 'quantity_not_null' AS rule,
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
           CAST(COUNT(*) AS BIGINT) AS total,
           SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) = 0 AS passed
    FROM lineitem
    UNION ALL
    SELECT 'discount_band',
           CAST(SUM(CASE WHEN NOT (l_discount IS NOT NULL AND l_discount >= 0.0
                                   AND l_discount <= 0.05) THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT),
           SUM(CASE WHEN NOT (l_discount IS NOT NULL AND l_discount >= 0.0
                              AND l_discount <= 0.05) THEN 1 ELSE 0 END) = 0
    FROM lineitem
    UNION ALL
    SELECT 'returnflag_domain',
           CAST(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R')
                         OR l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT),
           SUM(CASE WHEN l_returnflag NOT IN ('A','N','R')
                    OR l_returnflag IS NULL THEN 1 ELSE 0 END) = 0
    FROM lineitem
    UNION ALL
    SELECT 'orderkey_unique',
           CAST(SUM(n - 1) AS BIGINT), CAST(SUM(n) AS BIGINT), SUM(n - 1) = 0
    FROM (SELECT COUNT(*) AS n FROM lineitem GROUP BY l_orderkey)
    UNION ALL
    SELECT 'orderkey_fk',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)),
           CAST(COUNT(*) AS BIGINT),
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) = 0
    FROM lineitem
    """,
)
def validation_report_lineitem(spark, sf_dir):
    """Deequ/dbt-style declarative validation (Schelter et al.
    VLDB'18): five expectations over lineitem — three ROW-LOCAL rules
    (not-null, range band, value domain) that share ONE scan/aggregate
    pass no matter how many rules, a uniqueness rule (grouped count on
    the projected key), and a foreign-key rule (LeftAnti against
    orders' projected key). The discount band is deliberately tight
    (<= 0.05) and orderkey uniqueness deliberately fails (one order
    has many lines), so the report proves violation COUNTING, not just
    all-green paths."""
    from ..functions.quality_checks import (
        foreign_key,
        in_range,
        in_set,
        not_null,
        unique,
        validate,
    )

    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    rules = [
        not_null("quantity_not_null", "l_quantity"),
        in_range("discount_band", "l_discount", 0.0, 0.05),
        in_set("returnflag_domain", "l_returnflag", ["A", "N", "R"]),
        unique("orderkey_unique", "l_orderkey"),
        foreign_key("orderkey_fk", "l_orderkey", o, "o_orderkey"),
    ]
    return validate(li, rules)


def _profile_col_sql(col: str, dtype: str) -> str:
    return f"""
    SELECT '{col}' AS column, '{dtype}' AS dtype,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
           CAST(MIN({col}) AS VARCHAR) AS min_str,
           CAST(MAX({col}) AS VARCHAR) AS max_str
    FROM documents"""


@golden(
    "profile_documents_table",
    oracle=" UNION ALL ".join(
        _profile_col_sql(c, d)
        for c, d in [
            ("doc_id", "bigint"), ("text", "string"), ("lang", "string"),
            ("source", "string"), ("n_chars", "bigint"),
        ]
    ),
)
def profile_documents_table(spark, sf_dir):
    """ANALYZE-style table profile: every column's null count, exact
    distinct count and native-typed min/max fold into ONE wide
    aggregate over ONE scan (profiling 50 columns costs the same pass
    as one — the explode of a 1-row frame makes the report). Strings
    compare in binary collation in both engines; the documents table
    has no double column, so string-rendered min/max are engine-exact
    (double rendering differs across engines — the CLAUDE.md rule)."""
    from ..functions.profiling import profile_table

    return profile_table(t(spark, sf_dir, "documents"))
