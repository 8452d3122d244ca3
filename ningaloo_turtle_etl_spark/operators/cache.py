"""Shared persist-lifecycle tracker for operators that must materialize
intermediate state their callers consume lazily.

Several operators persist a frame that multiple plan branches reference
(MinHash signature state, q-gram prefix rows). The RESULT
frames are lazy, so the operator cannot unpersist before the caller
consumes them — instead every persist is registered here and released
explicitly, so long-lived sessions issuing many calls don't accumulate
storage.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

_LIVE_CACHES: list[DataFrame] = []


def track_cache(df: DataFrame) -> DataFrame:
    """Register an already-persisted frame for later release."""
    _LIVE_CACHES.append(df)
    return df


def release_tracked_caches() -> int:
    """Unpersist every tracked cache since the last release. Call after the
    result frames have been consumed (collected / written); returns the
    number of caches released."""
    n = 0
    for df in _LIVE_CACHES:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped
    _LIVE_CACHES.clear()
    return n


@contextmanager
def tracked_cache_scope():
    """Context manager: caches tracked inside the scope are unpersisted on
    exit. Consume (collect/write) results INSIDE the scope — the frames are
    lazy and lose their backing cache at exit."""
    mark = len(_LIVE_CACHES)
    try:
        yield
    finally:
        for df in _LIVE_CACHES[mark:]:
            try:
                df.unpersist()
            except Exception:
                pass
        del _LIVE_CACHES[mark:]
