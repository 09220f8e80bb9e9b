"""Deduplication operators for training-data pipelines: exact,
n-gram-Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.

Design rules for 100 TB:
- no pairwise cross joins — every near-dup path goes through a blocking
  key (shingle inverted index, MinHash band bucket, LSH bucket,
  embedding block) so candidate generation is an equi-join;
- Jaccard thresholds compare integers (2*inter >= tau_num*union style),
  never floats, so results are engine-exact;
- MinHash hashes with seeded xxhash64 by default (JVM codegen);
  engine_stable=True switches to md5 for cross-engine reproducibility;
- expensive per-row expressions (shingles, simhash votes) materialize
  exactly once behind an explicit cache boundary — Catalyst would
  otherwise inline them into filters/band columns and recompute.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from ..query.filters import cosine_similarity
from ..session import local_frame
from ._cache import pin_latest
from .text import shingles, tokenize

#: Distinct-edge cap of the default driver fold in
#: :func:`neardup_clusters` and :func:`star_contraction_clusters`; a
#: graph above it runs the distributed loop, and ``driver_cap=0``
#: forces that loop at any size.
DRIVER_FOLD_CAP = 200_000


def exact_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """Exact duplicate grouping by content hash: one hash-groupBy, the
    canonical survivor is the minimum id. Returns
    (content_hash, n_dups, keep_id)."""
    txt = F.col(text_col)
    if normalize:
        txt = F.lower(F.trim(txt))
    return (
        df.select(F.col(id_col), F.md5(txt).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
    )


def _pair_jaccard_candidates(
    sizes: DataFrame, id_col: str, shingle_col: str, num: int, den: int
) -> DataFrame:
    """Candidate pairs via PREFIX-FILTERED shingle inverted index
    (AllPairs/PPJoin, Bayardo et al. WWW'07): order every document's
    shingles by ascending global document frequency and index only the
    first ``n_sh - ceil(tau*n_sh) + 1`` of them. Any pair with
    Jaccard >= tau = num/den shares >= ceil(tau*|A|) elements, so by
    the prefix-filtering lemma the two prefixes must collide — the
    filter is recall-lossless for the threshold.

    Why not the full inverted index: one corpus-common shingle
    (boilerplate, license headers) lands M documents on a single join
    key and materializes M^2 candidate pairs — the classic similarity-
    join skew bomb. Under the df-ascending prefix order those shingles
    sort LAST and almost never enter a prefix, so candidate volume
    tracks rare-shingle collisions (true near-dups), not corpus size
    squared. ``tau`` as a rational (num/den) keeps the prefix length an
    exact integer expression. Returns distinct (id_a, id_b).
    """
    inv = sizes.select(
        F.col(id_col), F.col("n_sh"), F.explode(F.col(shingle_col)).alias("shingle")
    )
    dfreq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = inv.join(dfreq, "shingle").withColumn(
        "rnk", F.row_number().over(W.partitionBy(id_col).orderBy("df", "shingle"))
    )
    # prefix_len = n_sh - ceil(tau*n_sh) + 1, integer arithmetic only
    ceil_tau_n = F.expr(f"(n_sh * {num} + {den} - 1) div {den}")
    prefix = ranked.filter(F.col("rnk") <= F.col("n_sh") - ceil_tau_n + 1).select(
        F.col(id_col), F.col("shingle"), F.col("n_sh"), F.col("rnk")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # Two more recall-lossless prunes INSIDE the shingle equi-join
    # (AllPairs length filter, Bayardo WWW'07; positional filter,
    # Xiao et al. PPJoin WWW'08):
    # - length: Jaccard >= tau forces tau*|B| <= |A| <= |B|/tau;
    # - positional: a collision at df-rank positions (pa, pb) bounds
    #   the overlap by 1 + min(|A| - pa, |B| - pb), and
    #   Jaccard >= num/den needs overlap >= num*(|A|+|B|)/(num+den) —
    #   all integer comparisons. A pair survives if ANY of its
    #   collisions passes, a superset of PPJoin's first-common-token
    #   rule: sound (recall-lossless), just slightly less aggressive.
    ub = F.lit(1) + F.least(
        F.col("a.n_sh") - F.col("a.rnk"), F.col("b.n_sh") - F.col("b.rnk")
    )
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (F.col("a.n_sh") * den >= F.col("b.n_sh") * num)
            & (F.col("b.n_sh") * den >= F.col("a.n_sh") * num)
            & (ub * (num + den) >= (F.col("a.n_sh") + F.col("b.n_sh")) * num),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def auto_shingle_n(
    total_tokens: int,
    distinct_tokens: int,
    target_df: int = 4,
    lo: int = 3,
    hi: int = 8,
) -> int:
    """Shingle length that keeps expected shingle document-frequency at
    ~``target_df`` as the corpus grows against a bounded vocabulary —
    the TEXT-domain form of the blocking-cardinality rule
    (:func:`hydraide_spark.functions.vector.auto_lsh_bits`): the
    shingle space is ~``vocab^n``, so with a fixed ``n`` a corpus whose
    token count outgrows its vocabulary drives per-shingle df ∝ corpus
    and prefix-index candidate pairs ∝ corpus²/vocab^n. Solving
    ``vocab^n >= total_shingles / target_df`` gives
    ``n = ceil(log(total/target) / log(vocab))``. Measured at the 30×
    scale stress (fixed-vocab synthetic corpus): n=3 → 22.6M candidates
    / 181 s; the formula picks n=4 → 18.7 s with 89% of the true pair
    set retained (near-dups share long spans, so longer shingles cost
    little recall). Both inputs come from one corpus aggregate
    (count + approx/exact distinct of tokens)."""
    import math

    if distinct_tokens < 2 or total_tokens <= target_df:
        return lo
    n = math.ceil(
        math.log(total_tokens / target_df) / math.log(distinct_tokens)
    )
    return max(lo, min(hi, n))


def _verify_pair_join(
    cand: DataFrame,
    sizes: DataFrame,
    id_col: str,
    num: int,
    den: int,
    n_salts: int = 0,
    prune_sizes: bool = False,
) -> DataFrame:
    """The exact-Jaccard verification join shared by the n-gram and
    MinHash near-dup paths: fetch both members' shingle sets by id
    equi-join, test ``den·inter ≥ num·union`` integer-exactly. Returns
    (id_a, id_b, inter, union).

    Skew (r10 VERDICT #5): when ONE boilerplate document near-dups a
    large slice of the corpus, its id is a hot key on the candidate
    side — every pair it belongs to lands on one reducer. Two guards:
    AQE's skew-join split handles it at runtime (sort-merge plans; the
    session enables it), pinned engaging on this exact join shape in
    tests/test_skew_hardening.py; ``n_salts > 0`` is the PLAN-level
    guard (operators/skew.py::salted_join — candidates spread over
    n_salts sub-keys, the one-row-per-id shingle side replicated
    n_salts×), for clusters where AQE is off or the join resolves to a
    shuffled-hash join (which AQE's skew handling does not split).
    Semantics are identical either way (inner equi-join).

    ``prune_sizes`` (r12): when the candidate set is SMALL relative to
    the corpus (the MinHash band join's regime — measured 61K
    candidates over 500K docs at ×100), the two pair joins each
    streamed the FULL shingle-array frame to enrich a tiny pair list
    (~6.6 s of the ×100 wall). With pruning, one id semi-join cuts the
    array frame to the candidates' own rows first (persisted — both
    pair joins read the pruned copy), so the arrays are scanned once
    and the joins touch ≤ 2·|cand| array rows. No broadcast hint — AQE
    broadcasts the (runtime-small) id set locally and falls back to a
    single array shuffle when candidates scale up. Left OFF for the
    n-gram path, whose prefix-filter candidates cover most of the
    corpus (pruning would add a pass for nothing)."""
    if prune_sizes:
        ids = (
            cand.select(F.col("id_a").alias(id_col))
            .unionByName(cand.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        sizes = sizes.join(ids, id_col, "left_semi").persist()
        pin_latest("dedup._verify_pair_join.pruned", sizes)
    pa = sizes.select(
        F.col(id_col).alias("id_a"),
        F.col("sh").alias("sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    pb = sizes.select(
        F.col(id_col).alias("id_b"),
        F.col("sh").alias("sh_b"),
        F.col("n_sh").alias("n_b"),
    )
    if n_salts and int(n_salts) > 1:
        from ..operators.skew import salted_join

        j = salted_join(cand, pa, ["id_a"], n_salts=int(n_salts))
        j = salted_join(j, pb, ["id_b"], n_salts=int(n_salts))
    else:
        j = cand.join(pa, "id_a").join(pb, "id_b")
    return (
        j.withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("union", F.col("n_a") + F.col("n_b") - F.col("inter"))
        .filter(F.lit(den) * F.col("inter") >= F.lit(num) * F.col("union"))
        .select("id_a", "id_b", "inter", "union")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    tau: float,
    n: "int | str" = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    collapse_exact: bool = False,
    n_salts: int = 0,
) -> DataFrame:
    """Near-duplicate pairs with shingle-set Jaccard >= tau.

    Exact (no approximation): candidates from the prefix-filtered
    inverted index (recall-lossless for the threshold — see
    :func:`_pair_jaccard_candidates`), then the exact intersection via
    ``array_intersect`` and the integer test
    ``den * inter >= num * (|A| + |B| - inter)`` — a rational
    comparison with no float anywhere, so Spark and any oracle agree
    bit-for-bit. Returns (id_a, id_b, inter, union).

    ``n="auto"`` sizes the shingle length to the corpus via
    :func:`auto_shingle_n` (one token-statistics aggregate) — the
    scale guard for low-diversity corpora where a fixed ``n`` lets
    shingle document frequencies grow with the corpus.
    """
    if n == "auto":
        from .text import tokenize

        stats_df = df.select(
            F.explode(tokenize(F.col(text_col))).alias("t")
        ).agg(
            F.count(F.lit(1)).alias("total"),
            F.count_distinct(F.col("t")).alias("vocab"),
        )
        # the 1-row stats aggregate is a full corpus token scan; persist
        # it so sibling auto queries over the same corpus (and repeat
        # calls) dedupe to one scan via CacheManager plan matching
        # (r15 optimization; batch-only — auto-n needs an action anyway)
        stats_df = stats_df.persist()
        pin_latest("dedup.ngram_jaccard_pairs.auto_stats", stats_df)
        stats = stats_df.first()
        n = auto_shingle_n(int(stats["total"]), int(stats["vocab"]))
    frac = Fraction(tau).limit_denominator(10**6)
    num, den = frac.numerator, frac.denominator
    sh = df.select(F.col(id_col), shingles(F.col(text_col), n).alias("sh"))
    # persist: the prefix index and both verification sides would
    # otherwise recompute the shingle pipeline three times; generation-
    # evicted per call site (functions/_cache) so repeat calls don't
    # accumulate pinned storage
    sizes = sh.select(F.col(id_col), F.col("sh"), F.size("sh").alias("n_sh")).persist()
    pinned = [sizes]
    star = None
    if collapse_exact:
        # identical shingle sets (Jaccard 1) collapse to a min-id rep —
        # same guard as minhash_neardup_pairs(collapse_exact=True):
        # narrow md5 set-digest family shuffle, star edges, prefix
        # index + verification over DISTINCT sets only. Docs with NO
        # shingles (shorter than n tokens) are excluded: they can never
        # pair in the non-collapsed path (no shingle to join on), and
        # collapsing them would put every short doc in one md5('')
        # family and emit inter=union=0 star edges for unrelated docs.
        keyed = sizes.filter(F.col("n_sh") > 0).select(
            F.col(id_col),
            F.md5(F.concat_ws("\x00", F.array_sort(F.col("sh")))).alias("_sk"),
            F.col("n_sh"),
        ).persist()
        fam = keyed.groupBy("_sk").agg(F.min(F.col(id_col)).alias("_rep"))
        star = (
            keyed.join(fam, "_sk")
            .filter(F.col(id_col) != F.col("_rep"))
            .select(
                F.col("_rep").alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.col("n_sh").alias("inter"),
                F.col("n_sh").alias("union"),
            )
        )
        # persist the REP-ONLY frame: the prefix index needs it for the
        # df aggregate, the ranked window, BOTH self-join sides, and
        # both verification sides — without a cache boundary each leg
        # re-runs the family semi-join (measured: 6.0 s vs 0.4 s for
        # the non-collapsed path at sf0.1, all of it recompute)
        sizes = sizes.join(
            fam.select(F.col("_rep").alias(id_col)), id_col, "left_semi"
        ).persist()
        pinned += [keyed, sizes]
    # persist the candidate PAIR frame too (r16): it is two-long rows
    # (78K at sf0.1 — trivial storage even at the 12M-pair x10 stress),
    # but everything that produces it — the df aggregate, the per-doc
    # rank window, the prefix self-join and the distinct — re-ran on
    # every repeat invocation while only the inputs below it were warm
    # (measured 3.7 s/pass at sf0.1, almost all of it these stages).
    # Same pin_latest lifetime as the frames above.
    cand = _pair_jaccard_candidates(sizes, id_col, "sh", num, den).persist()
    pinned.append(cand)
    # max_generations=16: NINE headline goldens call this site per
    # bench pass (plain n=3 x6, collapsed, auto, auto_collapsed) — at
    # the default 8 every pass evicted each variant before its next
    # use (the r15 minhash-rotation lesson; measured: collapsed warm
    # 1.2-1.75 s solo vs ~5 s under the family interleave). Storage is
    # bounded by DISTINCT plans (CacheManager dedupes), not generations.
    pin_latest("dedup.ngram_jaccard_pairs", *pinned, max_generations=16)
    out = _verify_pair_join(cand, sizes, id_col, num, den, n_salts=n_salts)
    if star is not None:
        out = out.unionByName(star)
    return out


def _perm_hash(perm: int, engine_stable: bool):
    # one-parameter lambda factory (a 2nd parameter would turn this into
    # an (element, index) lambda and feed the index in place of `perm`)
    if engine_stable:
        return lambda s: F.md5(F.concat(F.lit(f"{perm}:"), s))
    # fast path: JVM xxhash64 seeded by the permutation id — ~10x cheaper
    # than md5 hex strings (no string allocation, stays in codegen)
    return lambda s: F.xxhash64(F.lit(perm), s)


def minhash_signature(
    shingle_col: Column, k: int = 16, prefix: str = "mh", engine_stable: bool = False
) -> list[Column]:
    """k MinHash values: min over hash(seed_i, shingle). Default uses
    seeded xxhash64 (fast, JVM-side); ``engine_stable=True`` switches to
    md5 hex strings, reproducible in any engine (for cross-engine
    oracles), at ~10x the cost."""
    return [
        F.array_min(F.transform(shingle_col, _perm_hash(i, engine_stable))).alias(
            f"{prefix}{i}"
        )
        for i in range(k)
    ]


def minhash_signature_array(
    shingle_col: Column, k: int = 16, engine_stable: bool = False
) -> Column:
    """The k-value MinHash signature as ONE array column built by a
    nested HOF over an in-plan permutation-id sequence — permutation
    ids as DATA, not k separate expression trees (r14, the
    _book_literals lesson: the unrolled k-column form made Catalyst
    codegen the dominant COLD cost, ~10 s first-touch on the md5
    stable path). Values are bit-identical to
    :func:`minhash_signature`: the hash inputs are unchanged
    (``xxhash64(i, s)`` — sequence elements are INT like the unrolled
    form's literals, and xxhash64 is type-sensitive; md5 of
    ``'<i>:' || s``)."""
    seq = F.sequence(F.lit(0), F.lit(int(k) - 1))
    if engine_stable:
        return F.transform(
            seq,
            lambda i: F.array_min(
                F.transform(
                    shingle_col,
                    lambda s: F.md5(
                        F.concat(i.cast("string"), F.lit(":"), s)
                    ),
                )
            ),
        )
    return F.transform(
        seq,
        lambda i: F.array_min(
            F.transform(shingle_col, lambda s: F.xxhash64(i, s))
        ),
    )


def band_bucket_array(sig_col: Column, k: int, bands: int) -> Column:
    """Banded-LSH bucket strings from a MATERIALIZED signature array
    (one projection boundary between signature and banding keeps the
    signature computed once, exactly like the old k-column form):
    band b = concat_ws('|', b, sig[b*r+1 .. b*r+r]) — byte-identical
    to the unrolled concat_ws over mh columns (bigints render through
    the same cast-to-string, md5 values are already hex strings)."""
    rpb = int(k) // int(bands)
    return F.transform(
        F.sequence(F.lit(0), F.lit(int(bands) - 1)),
        lambda b: F.concat_ws(
            "|",
            b.cast("string"),
            F.array_join(
                F.transform(
                    F.slice(sig_col, b * F.lit(rpb) + F.lit(1), rpb),
                    lambda v: v.cast("string"),
                ),
                "|",
            ),
        ),
    )


def minhash_neardup_pairs(
    df: DataFrame,
    tau: float,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    engine_stable: bool = False,
    collapse_exact: bool = False,
    n_salts: int = 0,
) -> DataFrame:
    """MinHash + LSH near-dup: signature -> band buckets -> candidate
    pairs within a bucket -> exact Jaccard verify >= tau.

    The band bucket is the blocking key: pairs never materialize unless
    they collide on a full band, so the join cost tracks true-duplicate
    density, not corpus size squared. Verification reuses the exact
    integer Jaccard, so the output has no false positives; recall is the
    standard LSH S-curve in (k, bands).

    ``engine_stable=True`` switches the signature hashes to md5 hex
    strings (lexicographic min), reproducible in ANY engine — the mode
    that lets a SQL oracle replay the complete probabilistic pipeline
    (signatures, band buckets, candidates, verify) value-for-value, at
    ~10x the hash cost of the default seeded xxhash64.

    ``collapse_exact`` is the exact-duplicate scale guard (the SimHash
    ``collapse_identical`` lesson applied at the shingle-SET level —
    sound here because identical sets have Jaccard 1, unlike identical
    signatures): docs with the same shingle set collapse to a min-id
    representative, the signature/banding/verify pipeline runs over
    DISTINCT sets only, and the output is within-family star edges
    (inter = union = |set|) plus representative cross pairs — a
    connectivity-equivalent sparsification whose
    :func:`neardup_clusters` output is identical (tested). On
    web-crawl-shaped corpora where exact duplicates dominate, full
    enumeration is quadratic in copy-family size; this is linear."""
    assert k % bands == 0
    frac = Fraction(tau).limit_denominator(10**6)
    num, den = frac.numerator, frac.denominator

    # persist the (id, shingles) frame: shingle construction is the
    # expensive per-row expression (O(tokens * n) string building +
    # distinct) and EVERY downstream leg needs it — the signature pass,
    # and both sides of the verification join. The cache materializes it
    # exactly once; everything above recomputes only cheap hashes.
    # The non-empty filter sits ABOVE the cache: below it, Catalyst
    # inlines the whole shingle expression into the predicate and pushes
    # it under the input's repartition — evaluating it once per row in
    # the (narrow) scan stage and again in the projection.
    sh = df.select(F.col(id_col), shingles(F.col(text_col), n).alias("sh")).persist()
    pinned = [sh]
    sh = sh.filter(F.size("sh") > 0)
    star = None
    if collapse_exact:
        # canonical set key: md5 over the sorted set with a NUL
        # separator (shingles contain spaces; NUL keeps the encoding
        # prefix-free). Grouping by the 128-bit digest instead of the
        # array keeps the family shuffle NARROW — (digest, id) rows,
        # no shingle arrays — and a collision needs ~2^64 distinct
        # sets (birthday) to appear once, far beyond any corpus.
        keyed = sh.select(
            F.col(id_col),
            F.md5(F.concat_ws("\x00", F.array_sort(F.col("sh")))).alias("_sk"),
            F.size("sh").alias("_nsh"),
        ).persist()
        fam = keyed.groupBy("_sk").agg(F.min(F.col(id_col)).alias("_rep"))
        star = (
            keyed.join(fam, "_sk")
            .filter(F.col(id_col) != F.col("_rep"))
            .select(
                F.col("_rep").alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.col("_nsh").alias("inter"),
                F.col("_nsh").alias("union"),
            )
        )
        # representatives keep their (unsorted) shingle arrays via a
        # narrow id semi-join — min-hash and array_intersect are
        # order-blind, so the original order is fine downstream.
        # Persisted: the signature pass and both verify sides each
        # re-run the semi-join otherwise (same recompute trap as the
        # ngram collapse path)
        sh = sh.join(
            fam.select(F.col("_rep").alias(id_col)), id_col, "left_semi"
        ).persist()
        pinned += [keyed, sh]
    sig = sh.select(
        F.col(id_col),
        minhash_signature_array(F.col("sh"), k, engine_stable=engine_stable).alias(
            "_sig"
        ),
    )

    # one pass: explode the band array instead of unioning `bands` frames
    # (a union would recompute the signature pipeline per band). The
    # banded frame carries ONLY (id, bucket) — shingle arrays stay out of
    # the bucket shuffle (they'd be duplicated `bands` times). Array-form
    # signature/banding (r14): identical strings, O(1) expression tree.
    banded = sig.select(
        F.col(id_col),
        F.explode(band_bucket_array(F.col("_sig"), k, bands)).alias("bucket"),
    )

    a, b_ = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
        # persist the candidate pairs (r16, same rationale as the ngram
        # path): two-long rows, but signature + banding + self-join +
        # distinct re-ran on every repeat invocation above the warm
        # shingle cache
        .persist()
    )
    pinned.append(cand)
    # max_generations=16: the headline rotation at this site spans the
    # doc-level minhash variants plus the three chunk_neardup flavors
    # (packed-chunk id_col) — same family-rotation sizing rule as the
    # ngram site above; storage bounded by distinct plans.
    pin_latest("dedup.minhash_neardup_pairs", *pinned, max_generations=16)

    sizes = sh.select(F.col(id_col), F.col("sh"), F.size("sh").alias("n_sh"))
    out = _verify_pair_join(
        cand, sizes, id_col, num, den, n_salts=n_salts, prune_sizes=True
    )
    if star is not None:
        out = out.unionByName(star)
    return out


def chunk_neardup_pairs(
    df: DataFrame,
    tau: float,
    chunk_size: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    engine_stable: bool = False,
    cross_doc_only: bool = True,
    n_salts: int = 0,
    collapse_exact: bool = False,
) -> DataFrame:
    """Paragraph/chunk-level near-duplicate pairs: chunk every document
    into token windows (text.chunk_documents — map-only explode), run
    the MinHash+LSH pipeline over CHUNKS, and decode pairs back to
    (doc, chunk) coordinates. Finds repeated passages BETWEEN documents
    that whole-document Jaccard dilutes away (a shared boilerplate
    paragraph inside two otherwise-different pages is invisible at
    doc granularity — the Lee et al. motivation for sub-document
    dedup, here in blocked-equi-join form rather than suffix arrays;
    repeated_span_coverage is the within-corpus exact-span
    complement).

    Chunk keys pack as ``doc_id * 2^20 + chunk_id`` (raises if a doc
    has >= 2^20 chunks or an id >= 2^43 would overflow the packing) so
    the whole minhash machinery — banding, collapse, salting,
    engine-stable mode — applies unchanged. ``cross_doc_only`` drops
    within-doc pairs (self-repetition is repetition_signals' job).
    ``collapse_exact=True`` is the boilerplate-family scale guard:
    byte-identical chunks (shared boilerplate paragraphs — the COMMON
    case at web scale) collapse to a min-key representative before
    banding, so a family of f copies emits f-1 star edges instead of
    C(f,2) pairs (connectivity-equivalent; without it the pair count
    is quadratic in family size — measured b 0.93 at x10 on the
    injected-paragraph corpus, linear with the collapse).
    Returns (doc_a, chunk_a, doc_b, chunk_b, inter, union)."""
    keyed = packed_chunk_frame(df, chunk_size, overlap, id_col, text_col)
    pairs = minhash_neardup_pairs(
        keyed,
        tau,
        n=n,
        k=k,
        bands=bands,
        id_col="_ck",
        text_col="chunk_text",
        engine_stable=engine_stable,
        n_salts=n_salts,
        collapse_exact=collapse_exact,
    )
    out = pairs.select(
        *unpacked_chunk_cols("id_a", "doc_a", "chunk_a"),
        *unpacked_chunk_cols("id_b", "doc_b", "chunk_b"),
        F.col("inter"),
        F.col("union"),
    )
    if cross_doc_only:
        out = out.filter(F.col("doc_a") != F.col("doc_b"))
    return out


CHUNK_KEY_BITS = 20


def packed_chunk_frame(
    df: DataFrame,
    chunk_size: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Chunk documents into token windows and pack (doc, chunk) into
    one long key ``doc_id * 2^20 + chunk_id`` — the single definition
    the batch operator (:func:`chunk_neardup_pairs`) and the streaming
    ingest (streaming/dedup_stream.py chunk loop, r13) share, so the
    incremental index can never band a chunk differently than batch
    mode would. Raises in-plan if a doc has >= 2^20 chunks or an id
    >= 2^43 would overflow the packing. Returns (_ck, chunk_text)."""
    from .text import chunk_documents

    lim = 1 << CHUNK_KEY_BITS
    chunks = chunk_documents(df, chunk_size, overlap, id_col, text_col)
    packable = (
        (F.col("chunk_id") < lim)
        & (F.col(id_col) >= 0)
        & (F.col(id_col) < (1 << (63 - CHUNK_KEY_BITS)))
    )
    key = F.when(
        packable, F.col(id_col).cast("long") * lim + F.col("chunk_id")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("packed_chunk_frame: id/chunk outside packing range "),
                F.col(id_col).cast("string"),
            )
        ).cast("long")
    )
    return chunks.select(key.alias("_ck"), F.col("chunk_text"))


def unpacked_chunk_cols(packed_col: str, doc_alias: str, chunk_alias: str):
    """The two decode columns of a packed chunk key (inverse of
    :func:`packed_chunk_frame`'s packing)."""
    lim = 1 << CHUNK_KEY_BITS
    return (
        F.shiftright(F.col(packed_col), CHUNK_KEY_BITS).alias(doc_alias),
        F.col(packed_col).bitwiseAND(F.lit(lim - 1)).alias(chunk_alias),
    )


def edit_distance_link_pairs(
    df: DataFrame,
    max_edit: int,
    n_blocks: int = 2,
    id_col: str = "rec_id",
    text_col: str = "rec",
    max_block_size: Optional[int] = 100,
) -> DataFrame:
    """Fuzzy record linkage / entity resolution: pairs with
    ``levenshtein <= max_edit``, candidates from CONTIGUOUS-SLICE
    blocking — split every record into ``n_blocks`` equal slices and
    equi-join on (slice_no, slice text). By pigeonhole, two records
    differing in at most ``n_blocks - 1`` SUBSTITUTIONS agree exactly
    on at least one slice; insert/delete edits shift slice boundaries
    and get the standard blocking recall instead (raise n_blocks or
    add a length-band pass). Verification is exact integer levenshtein
    — same DP definition in every engine, so the pair set is
    engine-exact.

    **Block purging** (``max_block_size``): real corpora share
    low-entropy affixes ('Customer#', 'cust-', country codes) — a
    constant slice lands every record in ONE block and candidates go
    M^2 (measured: 193 s at 18K records before purging, ~1 s after).
    Blocks larger than the cap are dropped BEFORE the self-join, the
    standard record-linkage purge; the recall guarantee then reads
    "pairs agreeing on at least one NON-purged slice" — a purged block
    is shared by >cap records and discriminates nothing, so real typo
    pairs still collide on their high-entropy slice. ``None`` disables
    purging (exact pigeonhole recall, only safe on affix-free keys)."""
    per = F.expr(f"(length({text_col}) + {n_blocks} - 1) div {n_blocks}")
    sliced = df.select(
        F.col(id_col),
        F.col(text_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_blocks - 1)),
                lambda b: F.struct(
                    b.alias("block_no"),
                    F.substring(F.col(text_col), b * per + 1, per).alias("piece"),
                ),
            )
        ).alias("s"),
    ).select(id_col, text_col, "s.block_no", "s.piece")
    if max_block_size is not None:
        sizes = (
            sliced.groupBy("block_no", "piece")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") <= max_block_size)
            .select("block_no", "piece")
        )
        sliced = sliced.join(sizes, ["block_no", "piece"], "left_semi")
    a, b_ = sliced.alias("a"), sliced.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.block_no") == F.col("b.block_no"))
            & (F.col("a.piece") == F.col("b.piece"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{text_col}").alias("_ta"),
            F.col(f"b.{text_col}").alias("_tb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("edit_dist", F.levenshtein("_ta", "_tb"))
        .filter(F.col("edit_dist") <= max_edit)
        .select("id_a", "id_b", "edit_dist")
    )


def minhash_incremental_pairs(
    df: DataFrame,
    new_pred: Column,
    tau: float,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    engine_stable: bool = False,
) -> DataFrame:
    """Incremental MinHash+LSH near-dup: only pairs TOUCHING the new
    batch (``new_pred`` marks new rows) are generated and verified —
    the shape of a dedup that runs per ingest instead of per corpus.

    The candidate join probes the full banded index with the NEW side
    only: left = bands of the delta, right = bands of everything, so
    join work is O(delta x collision density), never O(corpus^2), and
    historical pairs (both sides old) are never re-materialized — they
    were found when THEIR batch arrived. In production the right side
    and the shingle-size frame are the PERSISTED index tables this
    module's batch pipeline writes (sig/bands are pure functions of the
    row, so an index built incrementally equals one built from scratch
    — the same route-equivalence invariant as everything else here);
    locally both derive from the corpus frame.

    Same signature/band/verify machinery as
    :func:`minhash_neardup_pairs`, including ``engine_stable`` md5 mode
    for SQL-oracle replay. Returns (id_a, id_b, inter, union) with
    id_a < id_b and at least one side new."""
    assert k % bands == 0
    frac = Fraction(tau).limit_denominator(10**6)
    num, den = frac.numerator, frac.denominator

    sh = df.select(
        F.col(id_col), new_pred.alias("_new"), shingles(F.col(text_col), n).alias("sh")
    ).persist()
    pin_latest("dedup.minhash_incremental_pairs", sh)
    sh = sh.filter(F.size("sh") > 0)
    sig = sh.select(
        F.col(id_col),
        F.col("_new"),
        minhash_signature_array(F.col("sh"), k, engine_stable=engine_stable).alias(
            "_sig"
        ),
    )
    banded = sig.select(
        F.col(id_col),
        F.col("_new"),
        F.explode(band_bucket_array(F.col("_sig"), k, bands)).alias("bucket"),
    )
    new_banded = banded.filter(F.col("_new")).select(F.col(id_col), F.col("bucket"))
    a, b_ = new_banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
        )
        .distinct()
    )
    sizes = sh.select(F.col(id_col), F.col("sh"), F.size("sh").alias("n_sh"))
    pa = sizes.select(
        F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("n_a")
    )
    pb = sizes.select(
        F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("n_b")
    )
    verified = (
        cand.join(pa, "id_a")
        .join(pb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("union", F.col("n_a") + F.col("n_b") - F.col("inter"))
        .filter(F.lit(den) * F.col("inter") >= F.lit(num) * F.col("union"))
    )
    return verified.select("id_a", "id_b", "inter", "union")


SIMHASH_BITS = 64


def simhash_bits(text_col: Column, engine_stable: bool = False) -> Column:
    """SimHash of the token multiset as a 64-slot bit array
    (``array<int>`` of 0/1), computed as a pure column expression —
    per-token hash bits, per-bit +/-1 votes folded over tokens in one
    ``aggregate``, sign threshold at the end. No UDF, no shuffle.

    Default token hash is xxhash64 (JVM codegen); ``engine_stable=True``
    derives the 64 bits from two 32-bit halves of md5 hex (bit i < 32
    from the low half, else the high half) — reproducible in any SQL
    engine, so an oracle can replay the whole pipeline exactly.

    The bit-array representation (vs a packed int64) keeps every
    operation — hamming distance, chunk extraction — in plain
    higher-order functions; shift amounts in Spark must be literals, so
    the per-bit extraction loop runs at plan-build time (64 exprs), not
    per row."""
    toks = tokenize(text_col)

    def token_bits(w: Column) -> Column:
        if engine_stable:
            hi = F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("bigint")
            lo = F.conv(F.substring(F.md5(w), 9, 8), 16, 10).cast("bigint")
            return F.array(
                *[
                    F.shiftright(lo if i < 32 else hi, i % 32)
                    .bitwiseAND(F.lit(1))
                    .cast("int")
                    for i in range(SIMHASH_BITS)
                ]
            )
        h = F.xxhash64(w)
        return F.array(
            *[F.shiftright(h, i).bitwiseAND(F.lit(1)).cast("int") for i in range(SIMHASH_BITS)]
        )

    zeros = F.array_repeat(F.lit(0), SIMHASH_BITS)
    votes = F.aggregate(
        toks,
        zeros,
        lambda acc, w: F.zip_with(
            acc,
            token_bits(w),
            lambda a, bit: a + F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    return F.transform(votes, lambda v: F.when(v > 0, F.lit(1)).otherwise(F.lit(0)))


def simhash64(text_col: Column, engine_stable: bool = False) -> Column:
    """Packed BIGINT form of :func:`simhash_bits` (bit i = array slot i;
    the top bit contributes the sign, which is fine — the value is an
    opaque fingerprint). Built as ONE fold over the bit array so the
    expensive bit-vote expression appears exactly once in the plan (a
    per-bit term list would inline it 64 times)."""
    bits = simhash_bits(text_col, engine_stable=engine_stable)
    powers = F.array(
        *[
            F.lit(1 << i if i < 63 else -(1 << 63)).cast("bigint")
            for i in range(SIMHASH_BITS)
        ]
    )
    return F.aggregate(
        F.zip_with(bits, powers, lambda b, p: p * b.cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def hamming_distance_bits(a: Column, b: Column) -> Column:
    """Hamming distance between two bit arrays — zip_with + aggregate."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.when(x != y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def hamming_block_pairs_delta(
    new_sims: DataFrame,
    all_sims: DataFrame,
    max_hamming: int,
    n_blocks: int = 4,
    id_col: str = "doc_id",
    hash_col: str = "h",
) -> DataFrame:
    """Incremental form of :func:`hamming_block_pairs`: pairs where at
    least one side is NEW (``new_sims`` must be a subset of
    ``all_sims``) — the per-ingest shape: a micro-batch pairs against
    the whole accumulated index without re-enumerating old-old pairs.
    Same chunk-equality blocking; ids normalize to id_a < id_b, and
    new-new pairs dedupe on the id order (each such pair appears from
    both sides of the join). Emits (id_a, id_b, hamming)."""
    bits_per = SIMHASH_BITS // n_blocks
    mask = (1 << bits_per) - 1

    def chunked(frame: DataFrame) -> DataFrame:
        cs = F.array(
            *[
                F.struct(
                    F.lit(i).alias("chunk_no"),
                    F.shiftrightunsigned(F.col(hash_col), i * bits_per)
                    .bitwiseAND(F.lit(mask))
                    .alias("chunk"),
                )
                for i in range(n_blocks)
            ]
        )
        return frame.select(F.col(id_col), F.explode(cs).alias("c")).select(
            F.col(id_col), F.col("c.chunk_no"), F.col("c.chunk")
        )

    a, b = chunked(new_sims).alias("a"), chunked(all_sims).alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_no") == F.col("b.chunk_no"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
        )
        .distinct()
    )
    ha = all_sims.select(F.col(id_col).alias("id_a"), F.col(hash_col).alias("h_a"))
    hb = all_sims.select(F.col(id_col).alias("id_b"), F.col(hash_col).alias("h_b"))
    return (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .withColumn(
            "hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_blocks: int = 4,
    engine_stable: bool = False,
    collapse_identical: bool = False,
) -> DataFrame:
    """SimHash near-dup with the standard block-rotation blocking: split
    the 64 bits into ``n_blocks`` chunks; any pair within ``max_hamming``
    (< n_blocks per pigeonhole when max_hamming < n_blocks; a recall
    heuristic otherwise) must agree on >= 1 chunk, so candidates come
    from chunk-equality equi-joins, then exact hamming verify.

    ``collapse_identical`` is the scale guard the 30× stress made
    necessary: SimHash is order-insensitive over unigram features, so
    whole FAMILIES of documents share one hash value (the stress corpus
    held 150K docs over 4,960 distinct hashes), and pairwise
    enumeration is then quadratic in family size (measured 221M
    candidates, b = 1.06). With the flag on, identical hashes collapse
    to a min-id representative first, the banding join runs over
    DISTINCT hash values only, and the result is a
    CONNECTIVITY-EQUIVALENT sparsification of the full pair set:
    within-family star edges (rep→member, hamming 0) plus verified
    representative cross edges — linear in corpus + near-dup structure,
    and :func:`neardup_clusters` over it yields EXACTLY the clusters
    the full pair set yields (same components, same min-id labels;
    tested). Use it whenever pairs feed clustering rather than being
    the deliverable themselves."""
    bits_per = SIMHASH_BITS // n_blocks
    # persist the (id, packed int64 simhash) frame: the bit-vote
    # aggregate is the expensive per-row expression; chunk extraction,
    # the candidate join, and both verify sides read the cached hash.
    # Packed form: a chunk is shift+mask, hamming is ONE
    # bit_count(a XOR b) instead of a 64-slot zip_with fold — the
    # verify cost per candidate pair drops ~64x.
    sims = df.select(
        F.col(id_col),
        simhash64(F.col(text_col), engine_stable=engine_stable).alias("h"),
    ).persist()
    pinned = [sims]
    star = None
    if collapse_identical:
        fam = sims.groupBy("h").agg(F.min(F.col(id_col)).alias("_rep"))
        # within-family star edges: rep -> every other member, hamming 0
        star = (
            sims.join(fam, "h")
            .filter(F.col(id_col) != F.col("_rep"))
            .select(
                F.col("_rep").alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.lit(0).alias("hamming"),
            )
        )
        # the banding join now runs over DISTINCT hash values only
        sims = fam.select(F.col("_rep").alias(id_col), F.col("h")).persist()
        pinned.append(sims)
    pin_latest("dedup.simhash_neardup_pairs", *pinned)
    out = hamming_block_pairs(
        sims, max_hamming, n_blocks=n_blocks, id_col=id_col, hash_col="h"
    )
    if star is not None:
        out = out.unionByName(star)
    return out


def hamming_block_pairs(
    sims: DataFrame,
    max_hamming: int,
    n_blocks: int = 4,
    id_col: str = "doc_id",
    hash_col: str = "h",
) -> DataFrame:
    """Near-dup pairs over PRECOMPUTED packed 64-bit signatures
    (``sims`` = (id, hash)) with the block-rotation blocking: split the
    64 bits into ``n_blocks`` chunks; any pair within ``max_hamming``
    (< n_blocks, per pigeonhole) agrees on >= 1 chunk, so candidates
    come from chunk-equality equi-joins only — never a cross join —
    then one ``bit_count(a XOR b)`` verifies each candidate. The
    signature-agnostic core shared by :func:`simhash_neardup_pairs`
    (text simhash) and the image perceptual-hash near-dup
    (functions/multimodal.py::image_neardup_pairs). Emits
    (id_a, id_b, hamming) with id_a < id_b. The caller persists
    ``sims`` when its hash expression is expensive."""
    bits_per = SIMHASH_BITS // n_blocks
    mask = (1 << bits_per) - 1
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk_no"),
                F.shiftrightunsigned(F.col(hash_col), i * bits_per)
                .bitwiseAND(F.lit(mask))
                .alias("chunk"),
            )
            for i in range(n_blocks)
        ]
    )
    chunks = sims.select(F.col(id_col), F.explode(chunk_structs).alias("c")).select(
        F.col(id_col), F.col("c.chunk_no"), F.col("c.chunk")
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_no") == F.col("b.chunk_no"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    if not sims.isStreaming:
        # persist the two-long candidate frame (r16, the near-dup
        # candidate rule): the chunk explode + self-join + distinct
        # re-ran per repeat invocation above the caller's warm sims
        # cache. Budget sized for the simhash + image/audio phash
        # rotation (the ngram-site sizing rule).
        cand = cand.persist()
        pin_latest(
            "dedup.hamming_block_pairs.cand", cand, max_generations=16
        )
    ha = sims.select(F.col(id_col).alias("id_a"), F.col(hash_col).alias("h_a"))
    hb = sims.select(F.col(id_col).alias("id_b"), F.col(hash_col).alias("h_b"))
    return (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    auto_bucket_target: int | None = None,
    dim: int | None = None,
    seed: int = 42,
    n_probes: int = 1,
) -> DataFrame:
    """Embedding-cosine near-dup pairs. With ``block_col`` the join is an
    equi-join on the block (cluster id / LSH bucket) — the scalable form;
    without it, a full self-join (only for small corpora / verification).

    ``auto_bucket_target`` is the 100 TB guard the 30× scale stress
    made necessary: a FIXED-cardinality block (a label column, a fixed
    centroid set) has occupancy ∝ corpus, so candidate pairs grow
    ∝ n²/|blocks| — measured b = 1.21 at 30× on label blocking, the
    same quadratic shape the fixed-bit kNN had before ``auto_lsh_bits``.
    Setting it composes the block with a random-hyperplane LSH
    sub-bucket whose bit count derives from the corpus size (one cheap
    count), pinning expected occupancy at ~``auto_bucket_target`` rows
    regardless of scale; candidate volume returns to ~n·target. The
    recall trade is single-probe LSH's: a true pair is compared only
    when all sub-bucket bits agree — for near-dup thresholds (cosine
    close to 1) per-bit collision probability 1 − θ/π is near 1, and
    the recall floor is asserted in tests, not assumed.

    ``n_probes > 1`` (multi-probe, Lv et al. VLDB'07; needs the auto
    sub-bucket) raises that recall: the LEFT side of the pair join also
    probes the buckets reached by flipping its ``n_probes - 1``
    least-confident sign bits. A near-dup pair split by one bucket bit
    sits near that hyperplane on BOTH sides, so the differing bit is
    almost always among the left row's least-confident ones — the pair
    is recovered at ~n_probes× candidate volume, still never all-pairs.
    Each (id_a, id_b) pair can match at most once (the right side keeps
    one bucket; probe strings are distinct), so no dedup join follows."""
    from ..query.filters import dot_product, dot_product_sql, l2_norm
    from .vector import (
        _q,
        _sql_doubles,
        auto_lsh_bits,
        lsh_bucket_expr,
        make_planes,
    )

    if n_probes > 1 and auto_bucket_target is None:
        raise ValueError("n_probes > 1 requires auto_bucket_target")
    blocks: list = [F.col(block_col).alias("_blk")] if block_col else []
    planes = None
    n_bits = 0
    if auto_bucket_target is not None:
        if dim is None:
            row = df.select(F.size(F.col(vec_col))).first()
            if row is None:  # empty corpus: no pairs — keep the id type
                idt = df.schema[id_col].dataType.simpleString()
                return local_frame(
                    df.sparkSession, [], f"id_a {idt}, id_b {idt}, score double"
                )
            dim = row[0]
        n_bits = auto_lsh_bits(df.count(), target_bucket=auto_bucket_target)
        planes = make_planes(dim, n_bits, seed)
        blocks.append(lsh_bucket_expr(_q(vec_col), planes).alias("_sub"))
    blk_names = ["_blk"] if block_col else []
    if auto_bucket_target is not None:
        blk_names.append("_sub")
    if planes is not None and n_probes > 1:
        # per-plane |dot| ascending: the least-confident planes first —
        # one SQL parse for the whole confidence array (r16 twins,
        # tests/test_sql_twins.py pins tree equality for this shape)
        conf_body = ",".join(
            f"struct(abs({dot_product_sql(_q(vec_col), f'array({_sql_doubles(p)})')})"
            f" AS a, {i} AS p)"
            for i, p in enumerate(planes)
        )
        conf = F.expr(f"array_sort(array({conf_body}))")
        blocks.append(
            F.slice(
                F.transform(conf, lambda s: s.getField("p")), 1, n_probes - 1
            ).alias("_flips")
        )

    # normalize BEFORE the pair join: one norm per row instead of two
    # norms per pair — the pair-side work drops to a single dot product.
    # The norm is projected first so the per-element division reads a
    # row-scalar slot (an aggregate inside the lambda would be O(d²)).
    with_norm = df.select(
        F.col(id_col),
        *blocks,
        F.col(vec_col),
        l2_norm(_q(vec_col)).alias("_n"),
    )
    carry = list(blk_names) + (["_flips"] if planes is not None and n_probes > 1 else [])
    normed = with_norm.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.transform(F.col(vec_col), lambda x: x.cast("double") / F.col("_n")).alias("_vn"),
    )
    # batch inputs: materialize the blocked+normalized projection once —
    # BOTH pair-join sides read it, and without the boundary each side
    # re-evaluated the block expressions (a centroid argmax or LSH
    # bucket fold over inlined literals — the expensive part) plus the
    # norm pass (r15 optimization; generation-evicted per call site)
    if not normed.isStreaming:
        normed = normed.persist()
        pin_latest("dedup.embedding_neardup_pairs.normed", normed)
    a = normed.select(
        F.col(id_col).alias("id_a"), F.col("_vn").alias("v_a"),
        *[F.col(c) for c in carry],
    )
    if planes is not None and n_probes > 1:
        def flipped(pos):
            ch = F.substring(F.col("_sub"), pos + 1, 1)
            return F.concat(
                F.substring(F.col("_sub"), 1, pos),
                F.when(ch == "1", F.lit("0")).otherwise(F.lit("1")),
                F.substring(F.col("_sub"), pos + 2, n_bits),
            )

        a = (
            a.withColumn(
                "_probe",
                F.explode(
                    F.concat(
                        F.array(F.col("_sub")),
                        F.transform(F.col("_flips"), flipped),
                    )
                ),
            )
            .drop("_sub", "_flips")
            .withColumnRenamed("_probe", "_sub")
        )
    b = normed.select(
        F.col(id_col).alias("id_b"), F.col("_vn").alias("v_b"),
        *[F.col(c) for c in blk_names],
    )
    cond = F.col("id_a") < F.col("id_b")
    joined = a.join(b, blk_names).filter(cond) if blk_names else a.join(b, cond)
    return (
        joined.withColumn("score", dot_product("`v_a`", "`v_b`"))
        .filter(F.col("score") >= tau)
        .select("id_a", "id_b", "score")
    )


def embedding_neardup_pairs_int8(
    df: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    auto_bucket_target: int | None = None,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """:func:`embedding_neardup_pairs` with int8 codes as the VERIFY
    representation (r9-VERDICT #5): the blocking is IDENTICAL (same
    label block, same auto-bit LSH sub-bucket computed from the float
    vector before it is dropped — blocking decisions never change), but
    the pair join carries a 64-byte ``array<tinyint>`` code plus one
    precomputed code norm instead of 64 normalized doubles — 8× less
    candidate-join shuffle payload — and verification is the integer
    code dot + one multiply + one divide (the :func:`~.vector.int8_topk`
    arithmetic: exact-integer operands through sqrt and divide, both
    IEEE correctly-rounded), so unlike the float verify the WHOLE
    pipeline replays bit-identically in a SQL oracle.

    The emitted ``est_cos`` is the cosine of the CODES — a
    direction-preserving estimate of the float cosine (symmetric
    max-abs quantization keeps direction); thresholding at ``tau`` on
    it is the documented approximation, and its agreement with the
    float pair set is asserted in tests, not assumed."""
    from .vector import (
        auto_lsh_bits,
        int8_dot,
        int8_quantize_expr,
        lsh_bucket_expr,
        make_planes,
    )

    blocks: list = [F.col(block_col).alias("_blk")] if block_col else []
    if auto_bucket_target is not None:
        if dim is None:
            row = df.select(F.size(F.col(vec_col))).first()
            if row is None:
                idt = df.schema[id_col].dataType.simpleString()
                return local_frame(
                    df.sparkSession, [], f"id_a {idt}, id_b {idt}, est_cos double"
                )
            dim = row[0]
        n_bits = auto_lsh_bits(df.count(), target_bucket=auto_bucket_target)
        planes = make_planes(dim, n_bits, seed)
        blocks.append(lsh_bucket_expr(F.col(vec_col), planes).alias("_sub"))
    blk_names = ["_blk"] if block_col else []
    if auto_bucket_target is not None:
        blk_names.append("_sub")

    q = int8_quantize_expr(F.col(vec_col)).getField("q").cast("array<tinyint>")
    coded = df.select(F.col(id_col), *blocks, q.alias("_q")).withColumn(
        "_n",
        F.sqrt(
            F.aggregate(
                F.transform("_q", lambda x: x.cast("long") * x.cast("long")),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ).cast("double")
        ),
    )
    a = coded.select(
        F.col(id_col).alias("id_a"), F.col("_q").alias("q_a"),
        F.col("_n").alias("n_a"), *[F.col(c) for c in blk_names],
    )
    b = coded.select(
        F.col(id_col).alias("id_b"), F.col("_q").alias("q_b"),
        F.col("_n").alias("n_b"), *[F.col(c) for c in blk_names],
    )
    cond = F.col("id_a") < F.col("id_b")
    joined = a.join(b, blk_names).filter(cond) if blk_names else a.join(b, cond)
    nn = F.col("n_a") * F.col("n_b")
    est = F.when(nn == 0, F.lit(0.0)).otherwise(
        int8_dot(F.col("q_a"), F.col("q_b")).cast("double") / nn
    )
    return (
        joined.withColumn("est_cos", est)
        .filter(F.col("est_cos") >= F.lit(float(tau)))
        .select("id_a", "id_b", "est_cos")
    )


def _driver_components(edge_set: DataFrame, cap: int) -> "DataFrame | None":
    """The bounded driver fold behind both connected-components
    operators: one ``limit(cap+1)`` collect probes the canonical edge
    set (``x``, ``y``), and at most ``cap`` edges fold through a
    union-find to the component-min labeling the distributed loops
    compute. The labels come back as a LocalRelation
    (:func:`~hydraide_spark.session.local_frame`), so a later scan of
    them starts no Python workers. Returns None above the cap (the
    probe is discarded) or when ``cap <= 0``."""
    if cap <= 0:
        return None
    head = edge_set.limit(cap + 1).collect()
    if len(head) > cap:
        return None
    parent: dict = {}

    def find(a):
        while parent.setdefault(a, a) != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for x, y in head:
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    from pyspark.sql.types import StructField, StructType

    # typed from the COERCED edge column (ADVICE r15): when id_a and
    # id_b differ in width, greatest/least already widened x/y to the
    # common type, which typing from id_a alone would reject
    dtype = edge_set.schema["x"].dataType
    schema = StructType(
        [
            StructField("doc_id", dtype, False),
            StructField("cluster_id", dtype, False),
        ]
    )
    return local_frame(
        edge_set.sparkSession, [(x, find(x)) for x in parent], schema
    )


def neardup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    driver_cap: int = DRIVER_FOLD_CAP,
) -> DataFrame:
    """Connected components over near-dup pairs: every document that is
    transitively linked shares a cluster, labeled by the minimum doc id
    in the component (the canonical survivor). Returns
    (doc_id, cluster_id) for every id appearing in ``pairs``.

    By default a graph of at most ``driver_cap``
    (:data:`DRIVER_FOLD_CAP`, 200,000) distinct edges folds on the
    driver (:func:`_driver_components`): one probe job collects the
    edges, a union-find labels them, and the labels return as a
    LocalRelation. The loop below costs ~3 Spark jobs per round —
    all stage overhead on duplicate graphs, whose components are
    near-cliques. A larger graph, or ``driver_cap=0``, runs the
    distributed loop; both label identically (pinned in
    tests/test_dedup.py).

    The distributed loop is min-label propagation — each round every
    node takes the minimum label among itself and its neighbors; rounds
    are one groupBy + one join each, and the loop stops when no label
    changed (checked with a 1-row aggregate, no row collect). Round
    count is bounded by the component diameter, which for duplicate
    graphs is small (near-cliques). A graph whose diameter exceeds
    ``max_iterations`` RAISES instead of silently returning
    half-propagated labels; use :func:`star_contraction_clusters`
    (O(log^2 n) rounds, same per-round shuffle shape) for graphs with
    adversarially long chains. Lineage is cut with localCheckpoint each
    round so the plan does not grow with iterations.
    """
    # unlike star contraction this operator KEEPS ids that appear only
    # in self-pairs (labeled themselves), so the probe must not filter
    # x == y out
    folded = _driver_components(
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("x"),
            F.least(F.col(id_a), F.col(id_b)).alias("y"),
        ).distinct(),
        int(driver_cap),
    )
    if folded is not None:
        return folded
    a = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    edges = a.unionByName(
        pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v"))
    ).localCheckpoint()

    labels = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    changed = 0
    for _ in range(max_iterations):
        nbr = (
            edges.join(labels, edges.v == labels.id)
            .groupBy("u")
            .agg(F.min("label").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr, labels.id == nbr.u, "left")
            .select(
                F.col("id"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
                ).alias("label"),
                (F.col("nbr_min") < F.col("label")).alias("_changed"),
            )
            .localCheckpoint()
        )
        changed = new_labels.agg(
            F.coalesce(F.sum(F.col("_changed").cast("long")), F.lit(0))
        ).collect()[0][0]
        labels = new_labels.drop("_changed")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"min-label propagation did not converge in {max_iterations} "
            "rounds (component diameter exceeds the budget); use "
            "star_contraction_clusters, which needs O(log^2 n) rounds"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def star_contraction_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 30,
    stats: dict | None = None,
    driver_cap: int = DRIVER_FOLD_CAP,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the O(log^2 n)-round variant of
    :func:`neardup_clusters` for graphs with adversarially long chains,
    where plain min-label propagation needs O(diameter) rounds.

    By default a graph of at most ``driver_cap``
    (:data:`DRIVER_FOLD_CAP`, 200,000) distinct edges folds on the
    driver instead (:func:`_driver_components`: one probe job, a
    union-find, labels returned as a LocalRelation;
    ``stats['rounds']`` is then 0). The distributed loop costs ~3 Spark
    jobs per round plus two checkpoint jobs — measured ~1.5 s of pure
    job/plan overhead on a 100-edge graph at sf0.1. A larger graph, or
    ``driver_cap=0``, runs the loop below, including its
    non-convergence RAISE; both label identically (pinned in
    tests/test_dedup.py).

    Per round (each step is one groupBy-min + one join — the same
    shuffle shape as a label-propagation round, never a collect_list
    that could blow up on a high-degree node):

    - **large-star**: every node u points its larger neighbors at
      ``min(Gamma(u) + {u})`` — long chains fold toward small labels
      from every node at once, which is what beats diameter;
    - **small-star**: every node folds its smaller neighbors and itself
      onto its minimum smaller neighbor, re-canonicalizing the edge set.

    Convergence = edge-set fixpoint (stars rooted at each component
    min), detected with a one-row signature aggregate
    (count + two independently-seeded bit-xors of xxhash64(x, y) —
    overflow-free under ANSI mode) — no row collect. If
    ``stats`` is given, ``stats['rounds']`` records the rounds used.
    Returns (doc_id, cluster_id), identical to ``neardup_clusters``.
    """
    # canonical undirected edges (x, y), x > y, no self-loops
    edge_set = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("x"),
            F.least(F.col(id_a), F.col(id_b)).alias("y"),
        )
        .filter(F.col("x") != F.col("y"))
        .distinct()
    )
    folded = _driver_components(edge_set, int(driver_cap))
    if folded is not None:
        if stats is not None:
            stats["rounds"] = 0
        return folded
    edges = edge_set.localCheckpoint()
    nodes = (
        edges.select(F.col("x").alias("id"))
        .union(edges.select(F.col("y").alias("id")))
        .distinct()
        .localCheckpoint()
    )

    def signature(e: DataFrame):
        h1 = F.xxhash64(F.lit(1), F.col("x"), F.col("y"))
        h2 = F.xxhash64(F.lit(2), F.col("x"), F.col("y"))
        return e.agg(
            F.count(F.lit(1)), F.bit_xor(h1), F.bit_xor(h2)
        ).collect()[0]

    sig = signature(edges)
    rounds = 0
    converged = False
    for _ in range(max_iterations):
        rounds += 1
        # large-star over the symmetric view
        sym = edges.select("x", "y").unionByName(
            edges.select(F.col("y").alias("x"), F.col("x").alias("y"))
        )
        mins = sym.groupBy("x").agg(F.min("y").alias("mn"))
        large = (
            sym.join(mins, "x")
            .filter(F.col("y") > F.col("x"))
            .select(
                F.col("y").alias("x"),
                F.least(F.col("x"), F.col("mn")).alias("y"),
            )
            .filter(F.col("x") != F.col("y"))
            .distinct()
        )
        # small-star: the canonical (x > y) set IS the smaller-neighbor view
        mins2 = large.groupBy("x").agg(F.min("y").alias("mn"))
        small = (
            large.join(mins2, "x")
            .select(F.col("y").alias("x"), F.col("mn").alias("y"))
            .filter(F.col("x") != F.col("y"))
            .unionByName(mins2.select("x", F.col("mn").alias("y")))
            .distinct()
            .localCheckpoint()
        )
        new_sig = signature(small)
        edges = small
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        # Same contract as neardup_clusters: on a non-fixpoint edge set
        # the groupBy-min parents below can map nodes to NON-ROOT labels
        # — silently half-merged clusters, the exact bug class the raise
        # in neardup_clusters exists to prevent. O(log^2 n) rounds means
        # max_iterations should never bind in practice; if it does, the
        # caller must raise the budget, not receive wrong labels.
        raise RuntimeError(
            f"star contraction did not reach its edge fixpoint in "
            f"{max_iterations} rounds; raise max_iterations"
        )
    if stats is not None:
        stats["rounds"] = rounds
    # fixpoint edges are (node -> component-min) stars; roots map to self
    parents = edges.groupBy("x").agg(F.min("y").alias("label"))
    return nodes.join(parents, nodes.id == parents.x, "left").select(
        F.col("id").alias("doc_id"),
        F.coalesce(F.col("label"), F.col("id")).alias("cluster_id"),
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing
    at least one word n-gram with a held-out evaluation set (the
    GPT-3/PaLM-style 'n-gram collision' rule).

    Returns (id_col, n_hit_grams, contaminated) for EVERY training doc
    (0/false for clean ones).

    100 TB shape: the eval side is benchmarks — thousands of docs, not
    terabytes — so its distinct-gram set broadcasts, the train-side
    explode+join is map-side (the corpus never shuffles), and the only
    exchanges carry colliding grams (tiny) and the per-doc hit counts.
    If an eval set ever outgrows the broadcast threshold, AQE falls back
    to a shuffle join with identical semantics. The ``hits`` frame is
    NOT hinted: it is per-contaminated-doc — unbounded in corpus size —
    so the final join must stay a plain join (AQE broadcasts it when it
    happens to be small).
    """
    gram = lambda c: F.explode(shingles(F.col(c), n)).alias("gram")  # noqa: E731
    eval_grams = eval_df.select(gram(text_col)).distinct()
    train_grams = train.select(F.col(id_col), gram(text_col))
    hits = (
        train_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )
    return train.select(id_col).join(hits, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_hit_grams"), F.lit(0)).cast("bigint").alias("n_hit_grams"),
        (F.coalesce(F.col("n_hit_grams"), F.lit(0)) > 0).alias("contaminated"),
    )


def repeated_span_coverage(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring dedup signal (the suffix-array span dedup of
    "Deduplicating Training Data Makes Language Models Better",
    re-expressed relationally): for every document, how many of its
    tokens are covered by some k-token span that occurs >= 2 times in
    the corpus (anywhere — another doc or a repeat within the same
    doc). Returns (id_col, n_tokens, n_covered, dup_flag); dup_flag is
    the integer comparison 2*n_covered >= n_tokens (>= half the doc is
    repeated material).

    100 TB shape: the k-gram posexplode is the big frame and it is
    touched exactly twice — once feeding a partial-agg groupBy on the
    gram (a corpus-sized shuffle carrying per-partition distinct
    grams), once joining against the repeated-gram set. Neither the
    repeated-gram set nor the per-doc coverage frame carries a
    broadcast hint: both scale with the corpus (a crawl snapshot can be
    mostly boilerplate), so a pinned broadcast would OOM the driver at
    100 TB — AQE broadcasts them only when they measure small. Coverage
    merging (the interval union) runs on the HIT positions only —
    repeated spans are a tiny fraction of any healthy corpus — via one
    per-doc window; overlapping spans contribute min(k, gap) so each
    token counts once.
    """
    from .text import ngrams, token_count

    g = df.select(
        F.col(id_col), F.posexplode(ngrams(F.col(text_col), k)).alias("start", "gram")
    )
    rep = (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("gram")
    )
    hits = g.join(rep, "gram").select(F.col(id_col), F.col("start"))
    w = W.partitionBy(id_col).orderBy("start")
    cov = (
        hits.withColumn("nxt", F.lead("start").over(w))
        .select(
            F.col(id_col),
            F.least(
                F.lit(k), F.coalesce(F.col("nxt") - F.col("start"), F.lit(k))
            ).alias("c"),
        )
        .groupBy(id_col)
        .agg(F.sum("c").alias("n_covered"))
    )
    tot = df.select(F.col(id_col), token_count(F.col(text_col)).alias("n_tokens"))
    return tot.join(cov, id_col, "left").select(
        F.col(id_col),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.coalesce(F.col("n_covered"), F.lit(0)).cast("bigint").alias("n_covered"),
        (
            F.lit(2) * F.coalesce(F.col("n_covered"), F.lit(0))
            >= F.col("n_tokens")
        ).alias("dup_flag"),
    )


def semantic_dedup(
    df: DataFrame,
    centroids,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): assign
    every embedding to its nearest centroid (pure per-row argmax over
    inlined centroid literals — zero shuffle, the same E-step expression
    as ``kmeans_assign``), generate candidate pairs ONLY within a
    cluster (equi-join on the cluster id — never a cross join), and drop
    every row that has a cosine-``tau`` near-duplicate with a smaller
    id. The greedy earlier-id-wins rule is the standard SemDeDup keep
    policy; it is deterministic and join-expressible, unlike an
    iterative representative election.

    At 100 TB the cluster id doubles as a write-time partition key, so
    the pair join co-locates without a shuffle; within-cluster pair
    count is bounded by the cluster-size distribution the centroid count
    controls (k scales with corpus so clusters stay ~constant-sized).

    Returns survivors ``(id_col, cluster)``.
    """
    from .vector import nearest_centroid_struct

    with_cluster = df.select(
        F.col(id_col),
        F.col(vec_col),
        (-nearest_centroid_struct("`" + vec_col.replace("`", "``") + "`", centroids).getField("neg_label"))
        .cast("long")
        .alias("cluster"),
    )
    # batch: one centroid-argmax pass — the pair pipeline AND the final
    # survivor projection both read the materialized cluster column
    # (r15 optimization; without the boundary the argmax over inlined
    # centroid literals re-ran in every leg)
    if not with_cluster.isStreaming:
        with_cluster = with_cluster.persist()
        pin_latest("dedup.semantic_dedup.with_cluster", with_cluster)
    pairs = embedding_neardup_pairs(
        with_cluster, tau=tau, id_col=id_col, vec_col=vec_col, block_col="cluster"
    )
    dupes = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return with_cluster.select(id_col, "cluster").join(dupes, id_col, "left_anti")


def dedup_report(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Pipeline observability for a near-dup pass: per-group doc
    counts, survivors, dropped rows and the duplicate rate, given the
    (id, cluster_id) frame any of the clustering operators emit. A doc
    absent from ``clusters`` is a singleton (its own survivor); the
    survivor of a cluster is its min-id member (the clustering
    operators' canonical-label convention), attributed to the
    survivor's own group when a cluster spans groups.

    Exactness: counts are integers; ``dup_rate`` is one IEEE division
    of two integers — identical in any engine. Shape: one left join on
    the id (clusters is usually far smaller than the corpus — only
    paired docs appear) and one groupBy on the group key; O(corpus)
    with map-side partial counts."""
    lab = (
        df.select(F.col(id_col), F.col(group_col))
        .join(clusters.select(id_col, "cluster_id"), id_col, "left")
        .withColumn("_cid", F.coalesce(F.col("cluster_id"), F.col(id_col)))
    )
    return (
        lab.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(F.col(id_col) == F.col("_cid")).alias("n_survivors"),
        )
        .select(
            group_col,
            "n_docs",
            "n_survivors",
            (F.col("n_docs") - F.col("n_survivors")).alias("n_dropped"),
            (
                (F.col("n_docs") - F.col("n_survivors")).cast("double")
                / F.col("n_docs").cast("double")
            ).alias("dup_rate"),
        )
    )


def cluster_size_histogram(clusters: DataFrame) -> DataFrame:
    """(cluster_size, n_clusters) over the CLUSTERED docs (singletons
    never enter the clusters frame — join the corpus through
    :func:`dedup_report` for totals). Two integer groupBys; the first
    shuffles on cluster_id, the second on the bounded size domain."""
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


def snapshot_diff(
    df_a: DataFrame,
    df_b: DataFrame,
    key_col: str,
    content_cols: "Sequence[str]",
) -> DataFrame:
    """Row-level diff between two corpus snapshots — the dataset-
    versioning QA that answers "what actually changed between v1 and
    v2" before a retrain: per key, status ∈ ADDED (only in B), REMOVED
    (only in A), CHANGED (content hash differs), UNCHANGED. Returns
    (key, status, hash_a, hash_b).

    Content identity is md5 over the content columns joined with a
    0x1f separator (engine-stable, column-order fixed by the caller).
    Each column hashes with a one-byte presence prefix — 0x00 for
    NULL, 0x01 ++ value otherwise — so neither of the two classic
    collisions can mis-report UNCHANGED: bare concat_ws would drop a
    NULL column AND its separator (content shifted between columns
    collides), and a plain coalesce-to-'' would make NULL collide
    with the empty string. Shape: two map-side hash projections and
    ONE
    full-outer equi-join on the key — no window, no collect; at 100 TB
    this is a co-partitionable join on the snapshot key (bucket both
    snapshots by key to make it exchange-free). Aggregate downstream
    for the summary (count per status / per source)."""
    sep = "\x1f"

    def tagged(c):
        return F.when(F.col(c).isNull(), F.lit("\x00")).otherwise(
            F.concat(F.lit("\x01"), F.col(c).cast("string"))
        )

    def hashed(df, alias):
        return df.select(
            F.col(key_col),
            F.md5(
                F.concat_ws(sep, *[tagged(c) for c in content_cols])
            ).alias(alias),
        )

    a = hashed(df_a, "hash_a")
    b = hashed(df_b, "hash_b")
    return a.join(b, key_col, "full_outer").select(
        key_col,
        F.when(F.col("hash_a").isNull(), F.lit("ADDED"))
        .when(F.col("hash_b").isNull(), F.lit("REMOVED"))
        .when(F.col("hash_a") != F.col("hash_b"), F.lit("CHANGED"))
        .otherwise(F.lit("UNCHANGED"))
        .alias("status"),
        "hash_a",
        "hash_b",
    )


def dedup_pair_truth_eval(
    pairs: DataFrame,
    truth: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Planted-duplicate evaluation of a near-dup pair set — the
    standard way to pick/validate a dedup threshold and blocking
    config: seed the corpus with KNOWN duplicate pairs (``truth``),
    run the pipeline, and score what came back. Returns ONE row:
    (n_found, n_truth, n_hit, prec, rec) where prec = n_hit/n_found
    and rec = n_hit/n_truth (NULL when the denominator is zero — an
    Infinity would hash differently across engines).

    Both inputs canonicalize to unordered distinct pairs
    (least/greatest + distinct), so orientation and accidental
    duplicates can't skew the counts — SET precision/recall. All
    counts are exact longs; each ratio is ONE division of exact
    operands rounded to 10 (IEEE correctly-rounded — bit-identical in
    any engine), so the whole report is SQL-oracle-able.

    Scale: the found-pair set is output-sized (never the corpus); it
    is persisted once (pin_latest-bounded) and feeds one count and one
    equi-join against the (small) truth set — two aggregates and a
    broadcast-sized join, no corpus scan."""
    from ._cache import pin_latest

    def canon(df):
        return df.select(
            F.least(F.col(id_a), F.col(id_b)).alias("_a"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("_b"),
        ).distinct()

    p = canon(pairs).persist()
    pin_latest("dedup.pair_truth_eval", p)
    t = canon(truth)
    found = p.agg(F.count(F.lit(1)).cast("long").alias("n_found"))
    tot = t.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    hit = p.join(t, ["_a", "_b"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_hit")
    )
    out = found.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(hit))
    return out.select(
        "n_found",
        "n_truth",
        "n_hit",
        F.when(
            F.col("n_found") > 0,
            F.round(F.col("n_hit").cast("double") / F.col("n_found"), 10),
        ).alias("prec"),
        F.when(
            F.col("n_truth") > 0,
            F.round(F.col("n_hit").cast("double") / F.col("n_truth"), 10),
        ).alias("rec"),
    )


def line_corpus_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """CCNet-style line-level corpus dedup (r15): a line whose
    whitespace-stripped content appears in >= ``min_docs`` DISTINCT
    documents is boilerplate (cookie banners, nav menus, copyright
    footers — the bulk of crawl noise CCNet removes before perplexity
    filtering) and is dropped from EVERY document that carries it.
    Returns (id_col, n_lines, n_removed, clean_text) — clean_text is
    the surviving lines (VERBATIM, not stripped) re-joined with
    newlines in original order.

    Shared-with-oracle rules: lines split on '\\n'; the dedup key
    strips an EXPLICIT [ \\t\\r] class from both ends (Spark trim() is
    space-only and Java \\s != RE2 \\s); lines that strip to '' are
    structural blank lines — never counted, never removed; a line
    repeated only WITHIN one document stays (the count is distinct
    documents, not occurrences — intra-doc repetition is
    repeated_span_dedup's job).

    100 TB plan shape: posexplode -> one groupBy on the line key
    (map-side partial agg) -> the >=min_docs survivors form the
    boilerplate dictionary, usually orders of magnitude smaller than
    the line table; marking is a single key equi-join (AQE broadcasts
    when small, plain shuffle join when not — no collect either way),
    reassembly one groupBy(id). No window, no UDF, no driver data."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias("pos", "line"),
    ).withColumn(
        "key", F.regexp_replace(F.col("line"), "^[ \t\r]+|[ \t\r]+$", "")
    )
    dup_keys = (
        lines.filter(F.col("key") != "")
        .groupBy("key")
        .agg(F.countDistinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= int(min_docs))
        .select("key", F.lit(True).alias("__dup"))
    )
    marked = lines.join(dup_keys, "key", "left").withColumn(
        "dup", F.coalesce(F.col("__dup"), F.lit(False))
    )
    arr = F.array_sort(
        F.collect_list(F.struct(F.col("pos"), F.col("line"), F.col("dup")))
    )
    kept = F.filter(arr, lambda s: ~s["dup"])
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("dup").cast("int")).alias("n_removed"),
        F.array_join(
            F.transform(kept, lambda s: s["line"]), "\n"
        ).alias("clean_text"),
    )
