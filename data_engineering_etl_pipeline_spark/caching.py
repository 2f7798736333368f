"""Engine-owned persist lifecycle: the engine releases what it pins.

Several operators persist an intermediate that a LAZY result plan cannot
unpersist behind itself — the tokenized-docs projection feeding both sides
of a near-dup self-join, the deduped prefix of ``prepare_training_corpus``,
the TF-IDF vectorizer with three consumers, the fetched fact of the live
refresh. Left as a docstring convention ("call
``spark.catalog.clearCache()`` when done"), the release obligation is
one a long-lived session composing several pipelines WILL eventually
forget — accumulating docs-sized pinned relations — and which is too
blunt anyway (``clearCache`` also wipes caches the CALLER owns).

This module makes the engine's pins first-class:

- :func:`pin` — ``persist()`` + track. Every engine-internal persist goes
  through here.
- :func:`release_engine_pins` — unpersist exactly the engine's tracked
  pins (asynchronously; blocks nothing) and nothing else. Callers'
  own ``persist()`` calls are untouched. Idempotent; returns the count.
- :func:`engine_pin_scope` — context manager releasing the pins taken
  inside the scope, for callers that fully materialize within it::

      with engine_pin_scope():
          prepare_training_corpus(...).write.parquet(out)

Releasing a pin before the caller has executed the plan is SAFE for
DETERMINISTIC lineage (Spark recomputes; only the shared-scan speedup is
lost). Plans with non-deterministic stages (an injected network fetcher,
``rand()``) can recompute to DIFFERENT rows after an early release — so
``release_engine_pins`` is a session-level operation for a quiesced
driver (bench calls it BETWEEN queries), not something to fire while
another thread is mid-plan over a pinned relation: "always safe" does
not hold for the live refresh's fetch pin, whose recompute re-invokes the
fetcher.

Thread model: several pipelines may share one session from different
threads, so the registry is lock-guarded, and
:func:`engine_pin_scope` tracks per-thread — a scope exiting on one
thread releases exactly the pins ITS thread took inside the window,
never pins another pipeline's thread registered concurrently.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame

#: STRONG references, deliberately: the JVM-side cache outlives the Python
#: DataFrame wrapper (a query function's local `pin(...)` is unreachable the
#: moment the lazy result returns, while its executor blocks persist) — a
#: weakref here would silently forget exactly the pins this module exists
#: to release. The list is bounded by the engine work between release
#: calls and is cleared on every release.
_PINNED: list[DataFrame] = []
_LOCK = threading.RLock()
#: per-thread stack of active engine_pin_scope collectors; pin() appends
#: to the innermost one so a scope releases only its own thread's pins
_SCOPES = threading.local()


def pin(df: DataFrame,
        level: StorageLevel = StorageLevel.MEMORY_AND_DISK) -> DataFrame:
    """Persist ``df`` at ``level`` and register it as an ENGINE pin that
    :func:`release_engine_pins` will drop. MEMORY_AND_DISK default: at
    100 TB an engine intermediate must spill like a shuffle write, not
    evict and recompute."""
    out = df.persist(level)
    with _LOCK:
        _PINNED.append(out)
        for collector in getattr(_SCOPES, "stack", ()):
            collector.append(out)
    return out


def _unpersist_quiet(df: DataFrame) -> bool:
    try:
        df.unpersist(blocking=False)
        return True
    except Exception:  # session already stopped — nothing to free
        return False


def release_engine_pins() -> int:
    """Unpersist every live engine pin (non-blocking) and forget them all.
    Caller-owned persists are untouched. Returns how many were released.

    Session-level: releases pins from EVERY thread. Call it from a
    quiesced driver (between pipelines/queries) — releasing while another
    thread is mid-plan over a pin forfeits that plan's shared-scan reuse
    and, for non-deterministic lineage, its row stability."""
    with _LOCK:
        pins, _PINNED[:] = list(_PINNED), []
    return sum(_unpersist_quiet(df) for df in pins)


@contextmanager
def engine_pin_scope():
    """Release, on exit, exactly the engine pins taken INSIDE the scope
    BY THIS THREAD — for callers that fully materialize their result
    within it. Pins taken before the scope, or by other threads while it
    is open, are preserved."""
    mine: list[DataFrame] = []
    stack = getattr(_SCOPES, "stack", None)
    if stack is None:
        stack = _SCOPES.stack = []
    stack.append(mine)
    try:
        yield
    finally:
        stack.remove(mine)
        with _LOCK:
            _PINNED[:] = [df for df in _PINNED
                          if not any(df is m for m in mine)]
        for df in mine:
            _unpersist_quiet(df)
