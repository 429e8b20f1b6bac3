"""Request-scoped scratch caching.

Operators sometimes persist a small intermediate that the rest of their
plan references more than once (e.g. the candidate-pair table in
``datapipe.dedup.jaccard_verify``). A bare ``DataFrame.persist()`` never
leaves Spark's ``CacheManager``: in a long-lived service each request
leaks one cached-plan entry, storage memory fills with orphaned blocks,
and — worse — *every* subsequent query pays for it at planning time,
because ``CacheManager.useCachedData`` scans all registered entries for
subtree matches on every plan. Measured in this repo's bench: after ~200
query executions the per-query latency of unrelated plans had drifted
2-3x.

The fix is the same shape the reference uses for its per-request
fetch/response caches (``cache/cache.go``: caches are owned by the
request path and expire): a persisted scratch DataFrame is *tracked*,
and the request boundary (HTTP handler, bench harness, test fixture)
calls :func:`release` when the response has been materialized.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

# Thread-local: the HTTP server handles requests on a thread per
# connection (ThreadingHTTPServer), and release() runs in the handler's
# finally — a shared module-global list would let one request's release
# unpersist DataFrames a concurrent request just tracked and still needs
# (correct results, but the persist guarantee silently lost + cache
# thrash). Each thread owns its tracked list; the bench/test harnesses
# are single-threaded so they see the same behavior as before.
_LOCAL = threading.local()


def _tracked() -> list[DataFrame]:
    lst = getattr(_LOCAL, "tracked", None)
    if lst is None:
        lst = _LOCAL.tracked = []
    return lst


def track(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for release at the request boundary
    (this thread's request — tracking is per-thread)."""
    df = df.persist()
    _tracked().append(df)
    return df


def release() -> int:
    """Unpersist every scratch DataFrame tracked by THIS thread;
    returns how many were tracked."""
    lst = _tracked()
    n = len(lst)
    while lst:
        df = lst.pop()
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to free
    return n
