"""Golden query: mergeable HLL distinct-count sketches
(functions/sketches.py) — the 100 TB replacement for exact global
distincts (SURVEY §2.4 extension; reference has only per-swamp Count
and exact Uint32Slice sets).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.sketches import hll_group_sketches, hll_rollup
from ..session import local_frame
from . import golden
from ._util import big, t


@golden(
    "hll_distinct_rollup",
    oracle="""
    SELECT event_type AS scope,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'ALL' AS scope, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
    FROM events
    """,
)
def hll_distinct_rollup(spark, sf_dir):
    """Per-event-type distinct users via HLL sketches, PLUS a global row
    computed by union-merging the stored per-type sketches — no second
    pass over raw events. The shuffle carries one sketch per type
    instead of every (type, user) pair, and the stored sketches
    re-aggregate to any coarser grouping later (the pre-aggregated-cube
    pattern).

    Oracle note: DataSketches HLL is EXACT below its coupon-list
    threshold (~thousands of distincts at lg_k=14), which holds at every
    test sf (max 1500 distinct users at sf0.1) — so exact COUNT(DISTINCT)
    is a valid oracle here. Beyond the threshold the operator degrades to
    ±~1% estimates; tests/test_sketches.py pins that error bound in the
    dense regime separately."""
    ev = t(spark, sf_dir, "events")
    per_type = hll_group_sketches(ev, ["event_type"], "user_id", lg_k=14)
    per_type_rows = per_type.select(
        F.col("event_type").alias("scope"), big("distinct_est").alias("distinct_users")
    )
    global_row = hll_rollup(per_type, []).select(
        F.lit("ALL").alias("scope"), big("distinct_est").alias("distinct_users")
    )
    return per_type_rows.unionByName(global_row)


@golden(
    "cms_user_frequencies",
    oracle="""
    WITH depths AS (SELECT unnest([0, 1, 2, 3]) AS d),
    cells AS (
      SELECT d, substr(md5(d || ':' || CAST(user_id AS VARCHAR)), 1, 2) AS bucket
      FROM events CROSS JOIN depths
    ),
    cms AS (
      SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM cells GROUP BY 1, 2
    ),
    probes AS (SELECT unnest(range(0, 40)) AS user_id),
    pb AS (
      SELECT user_id, d,
             substr(md5(d || ':' || CAST(user_id AS VARCHAR)), 1, 2) AS bucket
      FROM probes CROSS JOIN depths
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(MIN(COALESCE(cnt, 0)) AS BIGINT) AS est
    FROM pb LEFT JOIN cms USING (d, bucket)
    GROUP BY user_id
    """,
)
def cms_user_frequencies(spark, sf_dir):
    """Count-Min frequency estimates for 40 probe users over the events
    stream (functions/sketches.py::cms_build/cms_estimate). The bucket
    key is the first two hex chars of md5(d ':' value) — bit-identical
    in any engine, so the oracle replays the FULL sketch (cells,
    collisions, min-over-depth) exactly, not just the estimates'
    ballpark. The shuffle carries ≤ depth×256 cells per partition
    regardless of the user keyspace; probing broadcasts the cell frame."""
    from ..functions.sketches import cms_build, cms_estimate

    ev = t(spark, sf_dir, "events")
    cms = cms_build(ev, "user_id", depth=4)
    probes = spark.range(0, 40).select(F.col("id").alias("user_id"))
    out = cms_estimate(cms, probes, "user_id", depth=4)
    return out.select(big("user_id").alias("user_id"), big("est").alias("est"))


@golden(
    "histogram_quantiles_events",
    oracle="""
    WITH mm AS (
      SELECT MIN(CAST(value AS DOUBLE)) AS mn, MAX(CAST(value AS DOUBLE)) AS mx
      FROM events
    ),
    b AS (
      SELECT LEAST(CAST(FLOOR((CAST(value AS DOUBLE) - mn)
                               / ((mx - mn) / 128.0)) AS BIGINT), 127) AS bin
      FROM events, mm
    ),
    h AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY bin),
    c AS (
      SELECT bin, cnt,
             CAST(COALESCE(SUM(cnt) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
               AS cum
      FROM h
    ),
    nn AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM h),
    qs AS (SELECT unnest(['0.1'::DOUBLE, '0.5'::DOUBLE,
                          '0.9'::DOUBLE, '0.99'::DOUBLE]) AS q),
    pick AS (
      SELECT q, bin, cnt, cum, q * (SELECT n FROM nn) AS t
      FROM qs, c
      WHERE cum + CAST(cnt AS DOUBLE) >= q * (SELECT n FROM nn)
      QUALIFY ROW_NUMBER() OVER (PARTITION BY q ORDER BY bin) = 1
    )
    SELECT q,
           mn + (CAST(bin AS DOUBLE) + (t - cum) / CAST(cnt AS DOUBLE))
               * ((mx - mn) / 128.0) AS est
    FROM pick, mm
    """,
)
def histogram_quantiles_events(spark, sf_dir):
    """Mergeable equi-width histogram quantiles over events.value
    (functions/sketches.py::histogram_quantiles): 128 bins, error ≤ one
    bin width, state ≤ 128 cells per partition in the shuffle. Every
    arithmetic step (bin width, q·N target, exact-integer cumulative
    adds, in-bin interpolation) is a FIXED operand order over IEEE
    doubles, so the SQL replay matches bit-for-bit UNROUNDED — the
    t-digest/KLL alternative has engine-private internals no oracle
    could check."""
    from ..functions.sketches import histogram_quantiles

    ev = t(spark, sf_dir, "events")
    pairs = histogram_quantiles(ev, "value", qs=[0.1, 0.5, 0.9, 0.99], bins=128)
    return local_frame(spark, pairs, "q double, est double")


_BLOOM_POS = (
    "CAST(('0x' || substr(md5(CAST({i} AS VARCHAR) || ':' || "
    "CAST({v} AS VARCHAR)), 1, 15))::UBIGINT % 32768 AS BIGINT)"
)


@golden(
    "bloom_membership_orders",
    oracle=f"""
    WITH vals AS (SELECT DISTINCT o_custkey AS v FROM orders),
    cells AS (
      SELECT (pos // 32) AS word, (1::BIGINT << CAST(pos % 32 AS INT)) AS bitval
      FROM (
        SELECT {_BLOOM_POS.format(i="i", v="v")} AS pos
        FROM vals, UNNEST([0, 1, 2, 3]) AS t(i)
      )
    ),
    bloom AS (SELECT word, bit_or(bitval) AS bits FROM cells GROUP BY word),
    probes AS (
      SELECT c_custkey AS probe FROM customer
      UNION ALL SELECT c_custkey + 10000000 FROM customer
    ),
    pp AS (
      SELECT probe, (pos // 32) AS word,
             (1::BIGINT << CAST(pos % 32 AS INT)) AS bitval
      FROM (
        SELECT probe, {_BLOOM_POS.format(i="i", v="probe")} AS pos
        FROM probes, UNNEST([0, 1, 2, 3]) AS t(i)
      )
    )
    SELECT CAST(probe AS BIGINT) AS probe,
           CAST(min(CASE WHEN COALESCE(bits, 0) & bitval = bitval
                         THEN 1 ELSE 0 END) AS INT) AS might_contain
    FROM pp LEFT JOIN bloom USING (word)
    GROUP BY probe
    """,
)
def bloom_membership_orders(spark, sf_dir):
    """Bloom-filter membership (r13): build a 32K-bit k=4 filter over
    the DISTINCT order custkeys (functions/sketches.py::bloom_build —
    md5-position bit math, the cms_build convention, so every set bit
    and every probe verdict replays exactly in SQL), probe every
    customer key plus a shifted definitely-absent twin. No false
    negatives by construction (every present key probes 1); absent
    keys read the REAL false-positive behavior of the shared bit
    array — the oracle recomputes the identical words, so even the
    false positives match exactly. The sketch is ≤ 1024 words however
    many orders exist; probes broadcast-join it."""
    from ..functions.sketches import bloom_build, bloom_probe

    orders = t(spark, sf_dir, "orders").select("o_custkey").distinct()
    bloom = bloom_build(orders, "o_custkey", n_bits=1 << 15, k=4)
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("probe")
    )
    probes = cust.unionByName(
        cust.select((F.col("probe") + F.lit(10_000_000)).alias("probe"))
    )
    out = bloom_probe(bloom, probes, "probe", n_bits=1 << 15, k=4)
    return out.select(
        big("probe").alias("probe"),
        F.col("might_contain").cast("int").alias("might_contain"),
    )
