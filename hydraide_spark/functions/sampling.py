"""Deterministic sampling for training-data pipelines: uniform hash
sampling, stratified sampling, and train/test splits.

Sampling at 100 TB has two hard requirements a naive ``df.sample()``
misses:

- **Reproducibility independent of partitioning.** Spark's ``sample``
  draws per-partition from a seeded RNG — add one file to the input and
  every row's draw changes. Hash sampling decides per ROW from a hash
  of its key, so the same row is in the same split forever, across
  reruns, repartitions, engines, and incremental loads (the property a
  train/test split must have to avoid leakage when the corpus grows).
- **No extra pass or shuffle.** The decision is a scalar expression on
  the scan: it pushes into the columnar read, costs one hash per row,
  and composes with any downstream operator.

Two hash modes, same convention as dedup.py's MinHash:

- ``method='xxhash64'`` (default): seeded JVM ``xxhash64`` — fastest,
  whole-stage-codegen, the production path.
- ``method='md5'`` (engine-stable): first 8 hex chars of md5 as a u32 —
  bit-identical in any engine that has md5 (the oracle gate runs this
  mode), ~a few× slower.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from ..session import local_frame

_U32 = 1 << 32


def sample_bucket(key: Column, salt: str = "", method: str = "md5") -> Column:
    """Uniform bucket in [0, 2^32) derived from the row key — the
    primitive every sampler here shares. md5 mode is engine-stable:
    ``conv(substr(md5(key || '|' || salt), 1, 8), 16, 10)`` reproduces
    in any SQL engine; xxhash64 mode hashes (key, salt) JVM-side."""
    if method == "md5":
        return F.conv(
            F.substring(F.md5(F.concat_ws("|", key.cast("string"), F.lit(salt))), 1, 8),
            16,
            10,
        ).cast("bigint")
    if method == "xxhash64":
        # map the signed i64 hash onto [0, 2^32) uniformly (pmod is
        # overflow-free under ANSI arithmetic)
        h = F.xxhash64(key, F.lit(salt))
        return F.pmod(h, F.lit(_U32)).cast("bigint")
    raise ValueError(f"method must be md5|xxhash64, got {method!r}")


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = "", method: str = "md5"
) -> DataFrame:
    """Keep ~``fraction`` of rows, decided per row by key hash —
    reproducible under repartitioning and incremental appends."""
    threshold = int(fraction * _U32)
    return df.filter(sample_bucket(F.col(key_col), salt, method) < F.lit(threshold))


def train_test_split(
    df: DataFrame,
    key_col: str,
    test_fraction: float,
    salt: str = "",
    method: str = "md5",
    split_col: str = "split",
) -> DataFrame:
    """Tag every row 'train' / 'test' — complementary by construction
    (one hash, one comparison), so the split is exhaustive and disjoint
    and a row never migrates when the corpus grows."""
    threshold = int(test_fraction * _U32)
    bucket = sample_bucket(F.col(key_col), salt, method)
    return df.withColumn(
        split_col, F.when(bucket < F.lit(threshold), F.lit("test")).otherwise(F.lit("train"))
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[str, float],
    key_col: str,
    salt: str = "",
    method: str = "md5",
) -> DataFrame:
    """Per-stratum hash sampling (e.g. per-language rates when
    rebalancing a corpus). Strata absent from ``fractions`` are
    dropped — the common rebalance contract (matches
    ``DataFrame.sampleBy``). Still a single scalar predicate on the
    scan: no shuffle, no per-stratum pass."""
    bucket = sample_bucket(F.col(key_col), salt, method)
    pred = F.lit(False)
    for stratum, frac in fractions.items():
        pred = pred | (
            (F.col(strata_col) == F.lit(stratum)) & (bucket < F.lit(int(frac * _U32)))
        )
    return df.filter(pred)


def temperature_mix_fractions(
    df: DataFrame,
    strata_col: str,
    target_fraction: float,
    max_strata: int = 100_000,
) -> "dict[str, float]":
    """Square-root temperature rebalance (the multilingual-mixing
    heuristic: sample stratum s proportionally to n_s^0.5, so dominant
    sources are downweighted and rare ones upweighted): returns the
    per-stratum keep fraction ``min(1, target * w_s / n_s)`` with
    ``w_s = sqrt(n_s) / sum_t sqrt(n_t)``.

    Computed driver-side from the per-stratum counts — one tiny
    aggregate, O(#strata) rows at any corpus size. Determinism: sqrt,
    *, / are IEEE correctly-rounded, and the weight denominator folds
    strata in SORTED order, so any engine replaying the same integer
    counts reproduces the fractions bit-for-bit (pow() would not — its
    last ulp is implementation-defined; alpha is fixed at 0.5 for
    exactly this reason)."""
    import math

    rows = df.groupBy(strata_col).count().limit(max_strata + 1).collect()
    if len(rows) > max_strata:
        # the per-stratum counts are only "one tiny aggregate" while
        # strata means language/domain/source; a high-cardinality
        # stratification (user id, URL) would silently pull an
        # unbounded map onto the driver — refuse loudly instead
        raise ValueError(
            f"temperature_mix_fractions: > {max_strata} distinct strata in "
            f"{strata_col!r}; this operator is for language/domain-sized "
            "strata — stratify on a bounded key or raise max_strata"
        )
    counts = {r[0]: r[1] for r in rows}
    strata = sorted(counts)
    ssum = 0.0
    for s in strata:
        ssum += math.sqrt(counts[s])
    target = target_fraction * sum(counts.values())
    out: dict[str, float] = {}
    for s in strata:
        f = target * (math.sqrt(counts[s]) / ssum) / counts[s]
        out[s] = f if f < 1.0 else 1.0
    return out


def temperature_mix_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    target_fraction: float,
    salt: str = "",
    method: str = "md5",
) -> DataFrame:
    """Temperature-rebalanced corpus sample: derive the per-stratum
    rates (:func:`temperature_mix_fractions`) then hash-sample each
    stratum — the whole mix is one scan-side predicate plus a tiny
    counts aggregate; reproducible under repartitioning and appends
    like every sampler here."""
    fracs = temperature_mix_fractions(df, strata_col, target_fraction)
    return stratified_sample(df, strata_col, fracs, key_col, salt, method)


def weighted_sample_topk(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    salt: str = "",
    method: str = "md5",
    priority_decimals: int | None = None,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    A-ES): each row draws a deterministic uniform u from its key hash
    and gets priority ``ln(u) / w``; the k LARGEST priorities are a
    weighted sample without replacement with inclusion probability
    increasing in weight. Deterministic (same corpus + salt => same
    sample), reproducible under repartitioning, and the selection is a
    TakeOrdered top-k — never a global sort. Use it to bias a training
    mix toward high-quality documents while keeping the draw auditable.

    Rows with ``w <= 0`` (or NULL) are dropped: A-ES is only defined
    for positive weights — ``w = 0`` gives a -inf priority (never
    sampled, silently) and ``w < 0`` FLIPS the priority sign so corrupt
    rows would deterministically outrank every valid row.

    ``priority_decimals`` is the cross-engine mode: ln() is the one
    transcendental here and its last ulp is engine-specific (JVM vs
    libm), so raw priorities can differ by ~1 ulp between engines.
    Rounding the priority to a fixed decimal before ranking makes the
    selected SET engine-stable whenever no priority sits within ln-ulp
    of a rounding boundary — the margin is ~1e6 x the worst drift at
    6 decimals on the documents corpus (pinned in tests); rank ties
    introduced by the rounding stay deterministic via the key-asc
    tiebreak. ``None`` keeps full-resolution priorities (single-engine
    use)."""
    u = (sample_bucket(F.col(key_col), salt, method).cast("double") + 0.5) / float(
        _U32
    )
    priority = F.log(u) / F.col(weight_col).cast("double")
    if priority_decimals is not None:
        priority = F.round(priority, priority_decimals)
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("_priority", priority)
        .orderBy(F.col("_priority").desc(), F.col(key_col).asc())
        .limit(k)
    )


def pack_token_shards(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget_tokens: int,
    bucket_size: int = 100_000,
) -> DataFrame:
    """Pack rows (in ``id_col`` order) into contiguous training shards
    of ~``budget_tokens`` tokens: row -> ``shard_id`` via its exclusive
    prefix-sum of ``tokens_col``, plus the inclusive ``cum_tokens``.

    Scale design — the distributed prefix sum. The textbook
    ``SUM() OVER (ORDER BY id)`` is a partitionBy-less window: Spark
    moves the ENTIRE corpus to one partition to evaluate it, which is
    the single worst plan shape at 100 TB. Instead:

    1. rows get a deterministic range bucket ``id div bucket_size``;
    2. the cumulative sum WITHIN each bucket is an ordinary partitioned
       window — embarrassingly parallel;
    3. per-bucket totals (one tiny row per bucket — corpus/bucket_size
       rows, the only data that ever converges) get their own exclusive
       prefix sum on a single partition, then broadcast back;
    4. global prefix = bucket offset + local prefix.

    All integer arithmetic (`div`, no doubles), so any engine derives
    identical shard ids. Requires ``id_col`` to be non-negative;
    ordering is total because ids are unique per row."""
    from pyspark.sql.window import Window

    base = df.withColumn("_bkt", F.floor(F.col(id_col) / F.lit(bucket_size)))
    w_local = (
        Window.partitionBy("_bkt")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = base.withColumn(
        "_cum_local", F.sum(F.col(tokens_col).cast("bigint")).over(w_local)
    )
    totals = base.groupBy("_bkt").agg(
        F.sum(F.col(tokens_col).cast("bigint")).alias("_tot")
    )
    # the offsets frame is corpus/bucket_size rows — tiny by
    # construction, so its single-partition window and the broadcast
    # back are both O(#buckets), never O(corpus)
    w_off = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_bkt", F.coalesce(F.sum("_tot").over(w_off), F.lit(0)).alias("_off")
    )
    cum = F.col("_off") + F.col("_cum_local")
    return (
        local.join(F.broadcast(offsets), "_bkt")
        .withColumn("cum_tokens", cum)
        .withColumn(
            "shard_id",
            F.expr(
                f"(cum_tokens - cast({tokens_col} as bigint)) div {int(budget_tokens)}"
            ),
        )
        .drop("_bkt", "_cum_local", "_off")
    )


def mixing_plan(
    df: DataFrame,
    strata_col: str,
    tokens_col,
    targets: "dict[str, float]",
    token_budget: int,
) -> DataFrame:
    """Data-mixing plan with explicit TARGET SHARES and a total token
    budget (the recipe form of Pile/Dolma-style mixes — where
    :func:`temperature_mix_fractions` derives shares from counts, this
    takes them as policy): per stratum, the available tokens, the
    planned allocation ``floor(budget · share)``, the sample fraction
    ``min(1, planned/available)``, and the DEFICIT when the stratum
    cannot fill its allocation (upsampling/repetition is an epochs
    decision for the caller, never silent here).

    Exactness: token counts are integer sums; planned tokens use
    floor() (CAST-to-int rounds in DuckDB but truncates in Spark —
    floor is the portable form); fraction/deficit are single IEEE
    ops over exact integers — the whole plan replays in SQL.
    Shape: one groupBy(strata) sum, then a full-outer join against the
    request-sized target dim. Spark cannot broadcast a full-outer join
    (both sides can emit unmatched rows), so no hint is given — but
    both sides are already O(#strata)/O(#targets) post-aggregate rows,
    so the exchange moves a handful of rows; the corpus is touched by
    exactly one scan. Strata absent from ``targets`` get share 0
    (reported, not dropped); targets without data report available 0."""
    spark = df.sparkSession
    avail = df.groupBy(strata_col).agg(
        F.sum(F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col)
        .cast("long")
        .alias("available_tokens")
    )
    tdim = local_frame(
        spark,
        [(k, float(v)) for k, v in sorted(targets.items())],
        f"{strata_col} string, target_share double",
    )
    j = avail.join(tdim, strata_col, "full_outer").select(
        strata_col,
        F.coalesce("available_tokens", F.lit(0)).alias("available_tokens"),
        F.coalesce("target_share", F.lit(0.0)).alias("target_share"),
    )
    planned = F.floor(F.lit(int(token_budget)) * F.col("target_share")).cast(
        "long"
    )
    return j.select(
        strata_col,
        "available_tokens",
        "target_share",
        planned.alias("planned_tokens"),
        F.when(F.col("available_tokens") == 0, F.lit(0.0))
        .otherwise(
            F.least(
                F.lit(1.0),
                planned.cast("double") / F.col("available_tokens").cast("double"),
            )
        )
        .alias("sample_fraction"),
        F.greatest(
            F.lit(0).cast("long"), planned - F.col("available_tokens")
        ).alias("deficit_tokens"),
    )


def apply_mixing_plan(
    df: DataFrame,
    strata_col: str,
    tokens_col,
    targets: "dict[str, float]",
    token_budget: int,
    key_col: str,
    salt: str = "",
    method: str = "md5",
) -> DataFrame:
    """MATERIALIZE a data-mixing plan: derive :func:`mixing_plan` and
    hash-sample each stratum at its plan ``sample_fraction`` — the step
    that turns the recipe into the actual training corpus. The plan is
    a broadcast dimension joined back onto the rows (one aggregate
    pass + one filter scan, no collect, no per-stratum predicates), and
    the keep decision is a single integer comparison per row:
    ``sample_bucket(key) < floor(fraction · 2^32)``.

    Semantics follow the plan exactly: strata absent from ``targets``
    (share 0) drop entirely; deficit strata (fraction 1) keep every
    row — floor(1.0·2^32) = 2^32 exceeds every u32 bucket, and
    repeating them (epochs) stays the caller's explicit decision,
    never a silent upsample here.

    Exactness: the fraction is the plan's exactly-derived double, the
    threshold one correctly-rounded multiply + floor, and the bucket
    the engine-stable md5 u32 by default — the whole materialization
    replays in SQL (golden ``mixing_plan_applied``)."""
    plan = mixing_plan(df, strata_col, tokens_col, targets, token_budget)
    dim = plan.select(
        strata_col,
        F.floor(F.col("sample_fraction") * F.lit(float(_U32)))
        .cast("long")
        .alias("_thr"),
    )
    bucket = sample_bucket(F.col(key_col), salt, method)
    return (
        df.join(F.broadcast(dim), strata_col)
        .filter(bucket < F.col("_thr"))
        .drop("_thr")
    )


# ---------------------------------------------------------------------------
# DSIR — Data Selection with Importance Resampling (Xie et al., 2023,
# "Data Selection for Language Models via Importance Resampling").
# Select raw-corpus documents that look like a small target domain:
# fit two hashed-n-gram bag models (target p, raw q), weight every raw
# document by sum_g log(p_b(g)/q_b(g)) over its unigrams+bigrams, keep
# the top-weighted documents.
#
# Scale shape (100 TB): the model is TWO B-row aggregates (map-side
# combined; B is the fixed hash-bucket count, never corpus-sized), the
# per-bucket log-ratios are quantized ONCE driver-side and injected as
# a DECIMAL literal array (CLAUDE.md: injected-literal discounts beat
# engine math — the JVM never computes a log), scoring is a zero-
# shuffle scan-side expression, and selection is orderBy().limit(k)
# (TakeOrderedAndProject, never a global-sort or one-partition window).
#
# Engine-stable exactness (the oracle replays the FULL pipeline):
# bucket = md5 u32 % B (sample_bucket); the pre-log ratio
# (c_b + 0.5) / (total + 0.5·B) is IEEE correctly-rounded in both
# engines; ln is libm in BOTH the driver (CPython math.log) and DuckDB
# (std::log) so the double matches bit-for-bit without the JVM rule;
# quantization mirrors DuckDB's CAST(DOUBLE AS DECIMAL) exactly
# (shortest-repr HALF_EVEN: Decimal(repr(x)).quantize(1e-12,
# ROUND_HALF_EVEN)); per-doc scores are DECIMAL sums of those literals
# — exact, order-free, comparable bit-for-bit.
# ---------------------------------------------------------------------------


def dsir_grams(text: Column) -> Column:
    """The DSIR feature stream: word unigrams + bigrams, with repeats
    (the paper's hashed n-gram features)."""
    from .text import ngrams

    return F.concat(ngrams(text, 1), ngrams(text, 2))


def dsir_bucket(gram: Column, n_buckets: int, salt: str = "", method: str = "md5") -> Column:
    """Feature hash bucket in [0, B): the u32 key hash mod B (both
    factors engine-stable in md5 mode)."""
    return sample_bucket(gram, salt, method) % F.lit(int(n_buckets))


def dsir_bucket_counts(
    df: DataFrame,
    text_col: str,
    n_buckets: int,
    salt: str = "",
    method: str = "md5",
) -> DataFrame:
    """Per-bucket gram counts for one corpus — the sufficient statistic
    of a hashed bag-of-ngrams model. One explode + groupBy on a B-ary
    key: map-side combine collapses each partition to <= B rows before
    the shuffle, so the aggregate is O(B) rows at any corpus size."""
    return (
        df.select(F.explode(dsir_grams(F.col(text_col))).alias("_g"))
        .select(dsir_bucket(F.col("_g"), n_buckets, salt, method).alias("bucket"))
        .groupBy("bucket")
        .count()
    )


def dsir_logratios(
    target_df: DataFrame,
    raw_df: DataFrame,
    text_col: str,
    n_buckets: int = 8192,
    salt: str = "",
    method: str = "md5",
    smoothing: float = 0.5,
    decimals: int = 12,
) -> "list":
    """Fit the DSIR model: per-bucket quantized log importance ratios
    ``L_b = round(ln((t_b+a)/(T+aB)) - ln((r_b+a)/(R+aB)), 12)`` as
    ``decimal.Decimal`` (add-a smoothing so unseen buckets stay
    finite). Computed from two B-row collects — bounded by B, never by
    corpus size. The quantization is shortest-repr HALF_EVEN, i.e.
    exactly DuckDB's CAST(DOUBLE AS DECIMAL(38,12)), so an oracle that
    recomputes the ratios lands on the SAME literals (ln is libm on
    both sides; the JVM never computes one — see module note)."""
    def counts(df: DataFrame) -> "dict[int, int]":
        rows = dsir_bucket_counts(df, text_col, n_buckets, salt, method).collect()
        return {int(r[0]): int(r[1]) for r in rows}

    return dsir_logratios_from_counts(
        counts(target_df), counts(raw_df), n_buckets, smoothing, decimals
    )


def dsir_logratios_tagged(
    df: DataFrame,
    is_target: Column,
    text_col: str,
    n_buckets: int = 8192,
    salt: str = "",
    method: str = "md5",
    smoothing: float = 0.5,
    decimals: int = 12,
) -> "list":
    """One-pass DSIR model fit for the common case where the target
    domain is a SUBSET of the raw corpus (a predicate, e.g.
    ``lang == 'de'``): a single gram explode aggregates raw and target
    counts together (``count(*)`` + conditional count per bucket) —
    half the model cost of :func:`dsir_logratios`' two passes, same
    model bit-for-bit (identical integer counts)."""
    grams = df.select(
        is_target.alias("_t"), F.explode(dsir_grams(F.col(text_col))).alias("_g")
    ).select(
        "_t", dsir_bucket(F.col("_g"), n_buckets, salt, method).alias("bucket")
    )
    rows = (
        grams.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("rc"),
            F.count_if(F.col("_t")).alias("tc"),
        )
        .collect()
    )
    tc = {int(r["bucket"]): int(r["tc"]) for r in rows}
    rc = {int(r["bucket"]): int(r["rc"]) for r in rows}
    return dsir_logratios_from_counts(tc, rc, n_buckets, smoothing, decimals)


def dsir_logratios_from_counts(
    tc: "Mapping[int, int]",
    rc: "Mapping[int, int]",
    n_buckets: int,
    smoothing: float = 0.5,
    decimals: int = 12,
) -> "list":
    """The pure DSIR model math, factored out so batch aggregates and
    continuously-maintained count stores (streaming/rollup.py::
    run_dsir_count_maintenance_loop) derive the IDENTICAL model from
    the same integer counts — bucket counts are plain associative
    counters, so incremental maintenance converges to the batch model
    bit-for-bit."""
    import math
    from decimal import ROUND_HALF_EVEN, Decimal

    q = Decimal(1).scaleb(-int(decimals))
    T, R = sum(tc.values()), sum(rc.values())
    a = float(smoothing)
    out = []
    for b in range(int(n_buckets)):
        x = math.log((tc.get(b, 0) + a) / (T + a * n_buckets)) - math.log(
            (rc.get(b, 0) + a) / (R + a * n_buckets)
        )
        out.append(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_EVEN))
    return out


def dsir_logratios_from_stores(
    target_store,
    raw_store,
    n_buckets: int,
    smoothing: float = 0.5,
    decimals: int = 12,
) -> "list":
    """Derive the DSIR model from two continuously-maintained
    bucket-count stores (each fed by
    ``run_dsir_count_maintenance_loop``): two O(B)-row reads, zero
    corpus scans — the count-free model refresh a 100 TB serving path
    needs. Identical to the batch model by the associativity of
    counts — exactly, including under retried micro-batches: the merge
    is idempotent per epoch (rollup.make_dsir_count_merge records the
    last-applied epoch atomically with the counts; its sentinel row
    rides at bucket=-1 and is excluded here)."""

    def counts(store) -> "dict[int, int]":
        return {
            int(r["bucket"]): int(r["n"])
            for r in store.current().collect()
            if int(r["bucket"]) >= 0
        }

    return dsir_logratios_from_counts(
        counts(target_store), counts(raw_store), n_buckets, smoothing, decimals
    )


def _decimal_array_literal(vals, decimals: int = 12, precision: int = 20) -> Column:
    """Literal array<decimal(p,s)> built by ONE SQL parse (the
    vector.py _as_double_array rule: per-element F.lit is a py4j round
    trip each; one expr string parses JVM-side in ms). Decimal literals
    parse exactly — no double transit, no bit drop.

    Precision matters for the DOWNSTREAM SUM, not the values: Spark's
    decimal(38,s) + decimal(38,s) needs precision 39, and on overflow
    Spark REDUCES THE SCALE (38,12 + 38,12 -> 38,11) — silently
    rounding the last digit at every addition step (measured: ~3e-11
    drift per document vs the exact DuckDB sum). Keeping elements at
    (20,12) and the accumulator at (32,12) leaves the addition at
    precision 33: headroom, so every step is exact.

    Inputs must be Decimal: the ``:f`` format is exact only for
    Decimal — a float would silently truncate to 6 fractional digits
    and inject a subtly wrong model (ADVICE r12), so non-Decimal
    values fail loudly here instead."""
    from decimal import Decimal

    for v in vals:
        if not isinstance(v, Decimal):
            raise TypeError(
                f"_decimal_array_literal needs Decimal values (got "
                f"{type(v).__name__}: {v!r}); quantize floats first — "
                "f-format would silently truncate them to 6 digits"
            )
    body = ",".join(f"CAST({v:f} AS DECIMAL({precision},{decimals}))" for v in vals)
    return F.expr(f"array({body})")


def dsir_score(
    text: Column,
    logratios,
    salt: str = "",
    method: str = "md5",
    decimals: int = 12,
) -> Column:
    """Per-document DSIR log importance weight: the DECIMAL-exact sum
    of the quantized bucket log-ratios over the document's grams. A
    scan-side expression — zero shuffle, whole-stage codegen (md5/conv/
    element_at/aggregate are all JVM built-ins); the model rides the
    plan as a literal array, never a join."""
    lr = _decimal_array_literal(logratios, decimals)
    n_buckets = len(logratios)
    zero = F.expr(f"CAST(0 AS DECIMAL(32,{decimals}))")
    return F.aggregate(
        dsir_grams(text),
        zero,
        lambda acc, g: (
            acc
            + F.element_at(
                lr, (dsir_bucket(g, n_buckets, salt, method) + F.lit(1)).cast("int")
            )
        ).cast(f"decimal(32,{decimals})"),
    )


def dsir_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    logratios,
    k: int,
    salt: str = "",
    method: str = "md5",
    score_col: str = "dsir_score",
) -> DataFrame:
    """Select the k raw documents most like the target domain: rank by
    DSIR score desc (id asc tiebreak — scores can tie across docs with
    identical gram multisets). ``orderBy().limit(k)`` is
    TakeOrderedAndProject (per-partition heaps + k·P driver merge);
    the rank window runs over the <= k survivors only (CLAUDE.md
    top-k rule). Returns (id, rank, score) — rank 1 = most target-like."""
    scored = df.select(
        F.col(id_col),
        dsir_score(F.col(text_col), logratios, salt, method).alias(score_col),
    )
    top = scored.orderBy(F.col(score_col).desc(), F.col(id_col).asc()).limit(int(k))
    w = W.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def cluster_balanced_sample(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids,
    per_cluster: int,
    salt: str = "",
    method: str = "md5",
) -> DataFrame:
    """Diversity-balanced subsample over an embedding column: assign
    each row to its nearest centroid (cosine argmax — a pure scan-side
    expression, centroids inlined as literals: zero joins, zero extra
    shuffles) and keep at most ``per_cluster`` rows per cluster, chosen
    by deterministic key-hash rank (md5 mode is engine-stable, so the
    PICKED SET replays in SQL). The standard guard against dominant-
    topic corpora: a uniform sample keeps duplicates of the dense
    clusters; this keeps an equal-width slice of every cluster.

    The per-cluster cut is :func:`~.vector.two_stage_topk` on the
    cluster id — per-input-partition heads first, then a window over
    the <= per_cluster * P survivors — so a dense cluster never funnels
    the whole corpus partition through one reducer (the 100 TB window
    rule). Returns (id, cluster, pick_rank); rows beyond the quota
    drop; clusters smaller than the quota keep every row."""
    from .vector import kmeans_assign, two_stage_topk

    assigned = kmeans_assign(df, id_col, vec_col, centroids).drop("score")
    bucket = sample_bucket(F.col(id_col), salt, method)
    picked = two_stage_topk(
        assigned.withColumn("_b", bucket),
        int(per_cluster),
        "label",
        [F.col("_b").asc(), F.col(id_col).asc()],
    )
    return (
        picked.drop("_b")
        .withColumnRenamed("label", "cluster")
        .withColumnRenamed("rank", "pick_rank")
    )


def dsir_threshold_select(
    df: DataFrame,
    id_col: str,
    text_col: str,
    logratios,
    min_score,
    salt: str = "",
    method: str = "md5",
    score_col: str = "dsir_score",
) -> DataFrame:
    """The AT-SCALE form of DSIR selection: keep every document whose
    importance score clears ``min_score`` — a pure scan-side predicate
    (score expression + one DECIMAL compare), so selecting x% of a
    100 TB corpus is one map-only pass with no top-k driver merge at
    all (:func:`dsir_topk` is the interactive/eval form; a
    million-row k has no business in a TakeOrdered). ``min_score``
    is typically calibrated once on a small hash-sample (score
    quantiles -> threshold) and reused across the corpus and across
    incremental appends — the same row always decides the same way.
    Returns the input rows (all columns) plus ``score_col``."""
    from decimal import Decimal

    thr = F.lit(Decimal(str(min_score)) if not isinstance(min_score, Decimal) else min_score)
    # explode(array(score)) is a Generate barrier (r16): a plain
    # withColumn+filter let Catalyst inline the aliased score into the
    # Filter — the full md5 fold evaluated TWICE per surviving row, and
    # the Filter copy was pushed below the caller's input-spread
    # repartition into the narrow scan stage (the CLAUDE.md inlining
    # trap, scan-side edition). A single-element explode computes the
    # score ONCE per row and the filter reads the generated attribute;
    # still map-only, no persist — the right shape for selecting x% of
    # 100 TB in one pass.
    scored = df.select(
        "*",
        F.explode(
            F.array(dsir_score(F.col(text_col), logratios, salt, method))
        ).alias(score_col),
    )
    return scored.filter(F.col(score_col) >= thr)


def dsir_threshold_from_quantile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    logratios,
    keep_fraction: float,
    sample_fraction: float = 0.01,
    salt: str = "",
    method: str = "md5",
):
    """Calibrate :func:`dsir_threshold_select`'s cut on a hash-sample:
    score ``sample_fraction`` of the corpus (deterministic membership —
    the same calibration set on every run and engine), take the exact
    (1 - keep_fraction) quantile of the sampled scores driver-side, and
    return it as the DECIMAL threshold. One pass over the sample; the
    full-corpus select then keeps ~``keep_fraction`` of rows. The
    returned threshold is an exact score value from the sample, so
    membership stays DECIMAL-exact and engine-stable."""
    if not 0 < keep_fraction <= 1:
        raise ValueError("keep_fraction must be in (0, 1]")
    sampled = hash_sample(df, id_col, sample_fraction, salt + "|cal", method)
    scores = sorted(
        r[0]
        for r in sampled.select(
            dsir_score(F.col(text_col), logratios, salt, method).alias("s")
        ).collect()
    )
    if not scores:
        raise ValueError(
            "dsir_threshold_from_quantile: calibration sample is empty — "
            "raise sample_fraction"
        )
    idx = int((1.0 - keep_fraction) * (len(scores) - 1))
    return scores[idx]


# --- trainable naive-Bayes language ID (r13) ----------------------------------


def langid_nb_train(
    df: DataFrame,
    label_col: str,
    text_col: str,
    n_buckets: int = 256,
    salt: str = "",
    method: str = "md5",
    smoothing: float = 0.5,
    decimals: int = 12,
) -> dict:
    """Train a multinomial naive-Bayes language classifier over hashed
    unigram+bigram buckets (the trainable upgrade of the heuristic
    lang-id; fastText's supervised mode is the same bag-of-hashed-
    ngrams shape with a learned projection — NB is its closed-form
    cousin whose training is PURE COUNTING, which is what makes the
    whole pipeline SQL-replayable bit-for-bit).

    One Spark aggregate collects exact integer (label, bucket) counts
    (≤ L·B rows — map-side combined; nothing float leaves the
    cluster); the driver derives per-label smoothed log-likelihoods
    ``ln((c+a)/(T_l+aB))`` and log-priors ``ln(n_l/N)``, quantized to
    DECIMAL exactly the way DuckDB's CAST(DOUBLE AS DECIMAL) rounds
    (shortest-repr HALF_EVEN — the dsir_logratios convention; driver
    libm == DuckDB libm, the JVM never computes a log). Returns
    {"labels", "priors", "logprobs", "n_buckets", "salt", "method"}."""
    import math
    from decimal import ROUND_HALF_EVEN, Decimal

    q = Decimal(1).scaleb(-int(decimals))

    def _q(x: float) -> Decimal:
        return Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_EVEN)

    grams = df.select(
        F.col(label_col).cast("string").alias("_l"),
        F.explode(dsir_grams(F.col(text_col))).alias("_g"),
    ).select(
        "_l", dsir_bucket(F.col("_g"), n_buckets, salt, method).alias("bucket")
    )
    rows = grams.groupBy("_l", "bucket").agg(F.count(F.lit(1)).alias("c")).collect()
    docs = (
        df.groupBy(F.col(label_col).cast("string").alias("_l"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    n_by_label = {r["_l"]: int(r["n"]) for r in docs}
    labels = sorted(n_by_label)
    if not labels:
        raise ValueError("langid_nb_train: empty training set")
    N = sum(n_by_label.values())
    counts = {lab: {} for lab in labels}
    for r in rows:
        counts[r["_l"]][int(r["bucket"])] = int(r["c"])
    a = float(smoothing)
    B = int(n_buckets)
    logprobs = {}
    for lab in labels:
        T = sum(counts[lab].values())
        logprobs[lab] = [
            _q(math.log((counts[lab].get(b, 0) + a) / (T + a * B)))
            for b in range(B)
        ]
    priors = [_q(math.log(n_by_label[lab] / N)) for lab in labels]
    return {
        "labels": labels,
        "priors": priors,
        "logprobs": logprobs,
        "n_buckets": B,
        "salt": salt,
        "method": method,
        "decimals": int(decimals),
    }


#: literal-path ceiling: above this many (label × bucket) plan
#: literals the expression tree itself becomes the cost (the
#: _book_literals lesson — Catalyst spent ~7 s PLANNING a 2K-row PQ
#: encode at m·k·d=1024 nodes) and scoring routes through the
#: broadcast-join path instead.
LANGID_LITERAL_MAX_CELLS = 32768


def langid_nb_predict(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model: dict,
    strategy: "str | None" = None,
) -> DataFrame:
    """Argmax prediction under a trained NB model. Two physical
    strategies with BIT-IDENTICAL results (decimal arithmetic is
    exactly associative, so regrouping gram sums by bucket changes
    nothing; tests pin equality):

    - ``literal`` — per label, score = prior + Σ_grams
      logprob[bucket(g)] via the dsir_score machinery (model rides the
      plan as decimal-array literals, ONE SQL parse each; map-only,
      zero shuffle). Right at small L·B — the oracle twin, since the
      SQL replay inlines the same literals.
    - ``broadcast`` — the model as a (bucket, label, logprob) FRAME
      broadcast-joined to per-(id, bucket) gram counts, then one
      per-(id, label) decimal sum and a struct-max argmax. Right at
      fastText-scale label counts (L~176, B≥2048 would be a ~360K-
      literal plan — the expression-tree-size trap CLAUDE.md
      documents).

    ``strategy=None`` picks by L·B against LANGID_LITERAL_MAX_CELLS.
    Returns (id, predicted); ties argmax to the ASC label, exact
    decimal compares everywhere."""
    labels = model["labels"]
    if strategy is None:
        strategy = (
            "literal"
            if len(labels) * int(model["n_buckets"]) <= LANGID_LITERAL_MAX_CELLS
            else "broadcast"
        )
    if strategy == "broadcast":
        return _langid_nb_predict_broadcast(df, id_col, text_col, model)
    if strategy != "literal":
        raise ValueError(f"langid_nb_predict: unknown strategy {strategy!r}")
    dec = model.get("decimals", 12)
    B = int(model["n_buckets"])
    L = len(labels)
    # r15 optimization (guide §1/§4-adjacent: do the expensive hash
    # once): the old per-label loop evaluated dsir_score L times, which
    # re-hashed EVERY gram once per label — aggregate/transform HOFs
    # are CodegenFallback, so no subexpression elimination ever hoists
    # the shared bucket stream out of the L folds (measured 5x the md5
    # work at L=5). Restructured: ONE transform derives the 1-based
    # bucket stream (one hash per gram), ONE fold carries all L label
    # sums as a decimal-array accumulator, and the argmax struct is
    # built per label from the finished sums. Decimal adds stay at
    # precision <= 33 (elements (20,s), accumulator (32,s)) and decimal
    # arithmetic is exactly associative, so every score — and therefore
    # every predicted label — is bit-identical to the old loop (pinned
    # against the broadcast strategy and the SQL oracle).
    salt, method = model["salt"], model["method"]
    lrs = F.array(
        *[
            _decimal_array_literal(model["logprobs"][lab], dec)
            for lab in labels
        ]
    )
    priors_lit = _decimal_array_literal(model["priors"], dec)
    # Spark SQL single-quoted literals process backslash escapes as
    # well as doubled quotes (ADVICE r15): escape backslashes FIRST so
    # a label like r"a\b" round-trips instead of parsing as an escape
    lab_body = ",".join(
        "'" + lab.replace("\\", "\\\\").replace("'", "''") + "'"
        for lab in labels
    )
    labels_lit = F.expr(f"array({lab_body})")
    buckets = F.transform(
        dsir_grams(F.col(text_col)),
        lambda g: (dsir_bucket(g, B, salt, method) + F.lit(1)).cast("int"),
    )
    # batch inputs: materialize the per-doc bucket stream behind a cache
    # boundary so the hash pass runs once — the L scalar folds below
    # then read stored ints (and repeat scoring calls, e.g. the bench's
    # interleaved passes, skip the hash entirely); streaming inputs
    # keep the single-projection stateless shape
    proj = df.select(F.col(id_col), buckets.alias("_bk"))
    if not proj.isStreaming:
        from ._cache import pin_latest

        proj = proj.persist()
        pin_latest("sampling.langid_nb_predict.buckets", proj)
    zero = F.expr(f"CAST(0 AS DECIMAL(32,{dec}))")
    cands = F.transform(
        F.sequence(F.lit(0), F.lit(L - 1)),
        lambda i: F.struct(
            (
                F.element_at(priors_lit, i + F.lit(1))
                + F.aggregate(
                    F.col("_bk"),
                    zero,
                    lambda acc, b: (
                        acc + F.element_at(F.element_at(lrs, i + F.lit(1)), b)
                    ).cast(f"decimal(32,{dec})"),
                )
            ).alias("s"),
            (-i).alias("ni"),
            F.element_at(labels_lit, i + F.lit(1)).alias("lab"),
        ),
    )
    return proj.select(
        F.col(id_col), F.array_max(cands).getField("lab").alias("predicted")
    )


def _langid_nb_predict_broadcast(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model: dict,
) -> DataFrame:
    """The broadcast-model scoring path (r14 — r13 VERDICT #4): model
    constants as DATA, not expression nodes. Pipeline: explode grams ->
    per-(id, bucket) exact counts (ONE shuffle, map-side combined, at
    most min(grams, B) rows per doc) -> broadcast join the (bucket,
    label, logprob) model frame -> per-(id, label) decimal sum of
    count·logprob (products cast to DECIMAL(32,s) — addition stays
    under precision 38, the r12 scale-digit trap) -> + prior ->
    struct-max argmax. Docs with no grams fall back to the argmax
    prior via a left join (the literal path's empty-aggregate
    semantics). Plan size is O(1) in L·B."""
    labels = model["labels"]
    dec = int(model.get("decimals", 12))
    B = int(model["n_buckets"])
    spark = df.sparkSession
    lp_rows = [
        (int(b), int(i), model["logprobs"][lab][b])
        for i, lab in enumerate(labels)
        for b in range(B)
    ]
    lp = local_frame(
        spark, lp_rows, f"bucket int, li int, lp decimal(20,{dec})"
    )
    pri = local_frame(
        spark,
        [(int(i), lab, model["priors"][i]) for i, lab in enumerate(labels)],
        f"li int, lab string, prior decimal(20,{dec})",
    )
    # the no-grams fallback: the label the literal path picks for an
    # empty gram stream (max prior, ties to the ASC label)
    default_lab = max(
        ((model["priors"][i], -i, lab) for i, lab in enumerate(labels))
    )[2]
    ids = df.select(F.col(id_col))
    # the SAME cached 1-based bucket projection the literal strategy
    # materializes (identical expression -> CacheManager dedupes the
    # entry, so the twins share one hash pass); bucket = element - 1
    salt, method = model["salt"], model["method"]
    bk = F.transform(
        dsir_grams(F.col(text_col)),
        lambda g: (dsir_bucket(g, B, salt, method) + F.lit(1)).cast("int"),
    )
    proj = df.select(F.col(id_col), bk.alias("_bk"))
    if not proj.isStreaming:
        from ._cache import pin_latest

        proj = proj.persist()
        pin_latest("sampling.langid_nb_predict.buckets", proj)
    grams = proj.select(
        F.col(id_col), F.explode(F.col("_bk")).alias("_b1")
    ).select(F.col(id_col), (F.col("_b1") - F.lit(1)).alias("bucket"))
    per_bucket = grams.groupBy(id_col, "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    # Two decimal-reduction traps guard this sum (r15 ADVICE fix +
    # the deeper instance the regression test found): (a) a BIGINT
    # count is decimal(20,0), so c*lp(20,12) needs precision 41 and
    # Spark reduces the PRODUCT to (38,9) — HALF_UP at scale 9; cast
    # the count to decimal(12,0) first so the multiply peaks at
    # (33,12), exact. (b) sum over decimal(32,s) yields (38,s) and
    # prior(20,s) + that needs precision 39, reduced to (38,s-1) —
    # cast the sum back down to (32,s) so the add peaks at 33.
    per_label = (
        per_bucket.join(F.broadcast(lp), "bucket")
        .groupBy(id_col, "li")
        .agg(
            F.sum(
                (F.col("c").cast("decimal(12,0)") * F.col("lp")).cast(
                    f"decimal(32,{dec})"
                )
            )
            .cast(f"decimal(32,{dec})")
            .alias("s0")
        )
    )
    scored = per_label.join(F.broadcast(pri), "li").select(
        F.col(id_col),
        F.struct(
            (F.col("prior") + F.col("s0"))
            .cast(f"decimal(32,{dec})")
            .alias("s"),
            (-F.col("li")).alias("ni"),
            F.col("lab").alias("lab"),
        ).alias("cand"),
    )
    best = scored.groupBy(id_col).agg(
        F.max("cand").getField("lab").alias("predicted")
    )
    return ids.join(best, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("predicted"), F.lit(default_lab)).alias("predicted"),
    )
