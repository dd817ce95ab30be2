"""App-keyed memoization for invariant Column expression trees (r9).

Driver-side plan construction is py4j round-trip bound: every
``F.<fn>``/``Column`` operation is a synchronous JVM call (~0.3 ms), so a
large expression tree costs 100s of milliseconds PER BUILD even though
the resulting Column is an immutable, endlessly reusable unresolved
expression.  Ops whose trees depend only on fixed column names and
literal parameters build them once per SparkContext through this helper,
the one per-SparkContext memo in the library (``urls._psl_join_bundle``,
``sitemap._xml_unescape_cached``, minhash, CDX and the entry queries).

Keyed on the ACTIVE SparkContext's applicationId, not process-wide: a
plain ``lru_cache`` would keep handing out Columns whose py4j refs point
into a stopped JVM gateway after a SparkContext relaunch in a long-lived
driver (ADVICE r7); stale-context entries are evicted on the next build.
"""

from __future__ import annotations

import threading

_MEMO: dict = {}
_LOCK = threading.Lock()


def memo_cols(key: tuple, builder):
    """Return ``builder()`` memoized under ``key`` for the active
    SparkContext.  ``builder`` must be a zero-arg callable returning an
    immutable value (Columns or DataFrames, alone or in a tuple/dict)
    derived only from ``key`` and fixed literals."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:  # no gateway to cache against; build fresh
        return builder()
    full = (sc.applicationId,) + key
    hit = _MEMO.get(full)
    if hit is None:
        built = builder()  # py4j-bound: outside the lock
        # the sweep iterates _MEMO while other threads may insert; the
        # first insert wins so every racing caller gets one object
        with _LOCK:
            for stale in [k for k in _MEMO if k[0] != full[0]]:
                del _MEMO[stale]
            hit = _MEMO.setdefault(full, built)
    return hit
