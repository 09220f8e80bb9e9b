"""Cache-lifetime plumbing for library functions that return a LAZY
DataFrame built on top of internally ``.persist()``-ed dependency
frames (bm25_terms, the near-dup shingle pipelines, …).

Those persists are load-bearing plan boundaries — several consumers
read each dep, and without the boundary Catalyst re-inlines the
expensive expression into every leg (see CLAUDE.md / functions/
dedup.py) — so they cannot be dropped. But the library cannot
unpersist them before returning either: the caller has not run an
action yet, and unpersisting reverts the plan to the raw (re-inlined)
form. Left alone, every call pins more executor storage for the life
of the session (round-8 VERDICT finding).

``pin_latest(site, *deps)`` bounds the leak with an LRU of cache
GENERATIONS per call site: each call pins its deps as the site's
newest generation; once a site holds more than ``_MAX_GENERATIONS``,
the oldest is released. Two properties matter:

- **Repeat queries stay warm.** Spark's CacheManager dedupes cache
  entries by logical plan, so a repeat call re-persists the SAME
  entry; eviction therefore skips any dep whose plan still appears in
  a younger generation — unpersisting it would evict the warm entry.
- **Memory is bounded, not zero.** A serving session that rotates
  between a handful of query variants (the bench's interleaved passes,
  a dashboard's query set) keeps them all warm; one-generation
  eviction made every variant evict its siblings each pass — the r9
  bench measured the whole near-dup family going cold (ngram pairs
  0.5 s warm → 3.8 s cold per pass). N generations of two thin frames
  per site is a few hundred MB at sf0.1 and spills (persist is
  MEMORY_AND_DISK), never OOMs.

For callers that know they are done, ``release_pinned(site)`` /
``release_all_pinned()`` free everything deterministically (the
PatchEachBatch.unpersist discipline) — e.g. at the end of a request, or in
tests asserting no cached RDDs remain.
"""

from __future__ import annotations

import threading
from typing import Dict, List, Tuple

from pyspark.sql import DataFrame

#: generations kept per call site — sized to the largest query-variant
#: family that realistically interleaves. r15: the minhash site now
#: rotates SEVEN headline argument sets (lsh / lsh_stable /
#: collapsed_stable / chunk passages / chunk collapsed / chunk
#: production / fuzzy linkage); at 6 every interleaved bench pass
#: evicted one member, so some pass always re-materialized cold —
#: the measured burst pattern behind minhash_collapsed_stable's
#: 8.9 s median with 8.6 spread (r14) and dedup_report_by_source's
#: 12.4 s cold rotations (r13/r14 adjudications).
_MAX_GENERATIONS = 8

_PINNED: Dict[str, List[Tuple[DataFrame, ...]]] = {}
#: the target of this module is a long-lived serving session whose
#: driver threads call library functions concurrently — unguarded
#: append/pop interleavings can leak a generation past the budget or
#: unpersist a dep a sibling still needs (same reason sources/store.py
#: uses an RLock)
_LOCK = threading.Lock()


#: per-SparkContext memo of UNRESOLVED Column expression trees (r16)
_COLUMN_MEMO: dict = {}


def column_memo(key: tuple, build):
    """Memo of UNRESOLVED Column expression trees, keyed per active
    SparkContext. Columns (unlike DataFrames) carry no analyzed
    exprIds — they are immutable unresolved trees safe to embed in any
    number of plans — so rebuilding one per call costs only py4j round
    trips (measured 0.2-0.5 s for the WARC grammar / HTML extractor).
    The applicationId in the key drops stale JVM references after a
    context restart. ``build`` must be a pure function of ``key``;
    callers that return mutable containers must copy before mutating."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    app = sc.applicationId if sc is not None else None
    k = (app,) + tuple(key)
    with _LOCK:
        if k in _COLUMN_MEMO:
            return _COLUMN_MEMO[k]
    val = build()
    with _LOCK:
        _COLUMN_MEMO.setdefault(k, val)
        return _COLUMN_MEMO[k]


def _unpersist_all(deps: Tuple[DataFrame, ...]) -> None:
    for d in deps:
        try:
            d.unpersist(False)
        except Exception:
            # session already stopped / JVM gone — nothing to free
            pass


def _same_plan(a: DataFrame, b: DataFrame) -> bool:
    try:
        return bool(
            a._jdf.queryExecution()
            .analyzed()
            .sameResult(b._jdf.queryExecution().analyzed())
        )
    except Exception:
        return False


#: thread-local capture of pin_latest calls (r16): frame_memo records
#: the pins its build made so memo HITS can re-pin them — a memoized
#: caller is then indistinguishable from a rebuild for site rotation,
#: and the _same_plan eviction guard protects its deps exactly as if
#: it still re-pinned per call.
_PIN_CAPTURE = threading.local()


def capture_pins():
    """Context manager collecting (site, deps, max_generations) for
    every pin_latest issued inside the block (this thread only)."""
    import contextlib

    @contextlib.contextmanager
    def _cm():
        stack = getattr(_PIN_CAPTURE, "stack", None)
        if stack is None:
            stack = _PIN_CAPTURE.stack = []
        rec: list = []
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()

    return _cm()


def pin_latest(site: str, *deps: DataFrame, max_generations: int | None = None) -> None:
    """Pin ``deps`` as call site ``site``'s newest cache generation,
    releasing the oldest once the site exceeds the generation budget.
    Call AFTER ``.persist()`` on each dep, before returning the lazy
    result.

    A dep of the evicted generation is NOT released while any younger
    generation holds a plan-identical dep: CacheManager dedupes cache
    entries by logical plan, so a repeat call with the same arguments
    re-persists the SAME entry — unpersisting the old generation would
    evict the new one's (warm) cache with it."""
    stack = getattr(_PIN_CAPTURE, "stack", None)
    if stack:
        for rec in stack:  # nested captures all see the pin
            rec.append((site, deps, max_generations))
    cap = _MAX_GENERATIONS if max_generations is None else int(max_generations)
    with _LOCK:
        gens = _PINNED.setdefault(site, [])
        gens.append(tuple(deps))
        while len(gens) > max(1, cap):
            oldest = gens.pop(0)
            live = [d for g in gens for d in g]
            stale = tuple(
                d for d in oldest if not any(_same_plan(d, l) for l in live)
            )
            _unpersist_all(stale)


def release_pinned(site: str) -> None:
    """Explicitly release one call site's pinned generations."""
    with _LOCK:
        gens = _PINNED.pop(site, [])
    for gen in gens:
        _unpersist_all(gen)


def release_all_pinned() -> None:
    """Release every pinned cache generation (end-of-request hook)."""
    with _LOCK:
        drained = list(_PINNED.items())
        _PINNED.clear()
    for _site, gens in drained:
        for gen in gens:
            _unpersist_all(gen)
