"""Every persisted or checkpointed DataFrame the operators keep goes
through this module, which decides who owns it and when it is released.

Spark's CacheManager holds a persisted frame until someone calls
``unpersist()``; Python garbage collection never releases it. So every
persisted frame here has exactly one owner:

- ``pinned()`` scope — an eager loop (the transitive closure, the
  streaming index and its last-batch probe) pins its loop-invariant
  frames with ``pin()`` inside ``with pinned():``. The scope unpersists every frame
  it persisted when it exits, normally or by an exception, so the loop
  must return a result that no longer reads them: a truncated frame,
  or a plan over frames that are themselves truncated.
- ``FrameCache`` — a keyed, bounded LRU. It persists the frames of
  each entry it builds (lazily: the first action that reads them fills
  the cache) and unpersists them when it evicts the entry. Two
  instances, because the eviction policies differ:
  ``INTERMEDIATES`` holds anonymous per-call intermediates that the
  returned lazy plan still reads (a fresh plan per call, so they never
  hit; the bound only stops a long-lived session accumulating them),
  ``INDEXES`` holds keyed index builds that repeated queries reuse
  (BM25 per-doc profiles, the inverted index, IVF quantizers and cell
  assignments, PQ codes).

A key that names a DataFrame holds it by reference, so the cached
entry keeps its source alive until eviction.

Truncate or persist. ``pin(df, truncate=True)`` is ``localCheckpoint``:
the lineage is cut, so a loop whose rounds reference the previous
round (often twice) cannot grow its plan per round. The checkpoint's
blocks belong to its RDD and Spark's ContextCleaner drops them when the
frame is garbage-collected; ``unpersist()`` on it does nothing. But a
checkpointed scan reports ``UnknownPartitioning``, so a same-key join
above it re-shuffles it every round. ``pin(df, truncate=False)`` is
persist: the cached scan keeps the plan's hash partitioning and
downstream joins on that key plan with no exchange on this side, but
the lineage is kept. So an eager loop persists its loop-invariant
frames pre-partitioned on their join key and truncates its per-round
frames. A loop whose round reads the previous round once needs no
per-round pin: its rounds chain lazily (``operators/graph.py``).

``spark.catalog.clearCache()`` drops the data of every persisted frame
while the frame's ``is_cached`` stays true; a cache hit re-persists
such a frame so its plan is not recomputed by every consumer.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from contextlib import contextmanager

from pyspark.sql import DataFrame

_scopes = threading.local()


def _scope_stack() -> list:
    return _scopes.__dict__.setdefault("stack", [])


def _release(frames) -> None:
    for df in frames:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release


def _dropped(df: DataFrame) -> bool:
    sl = df.storageLevel
    return not (sl.useMemory or sl.useDisk or sl.useOffHeap)


def _frames(entry) -> list[DataFrame]:
    items = entry if isinstance(entry, tuple) else (entry,)
    return [x for x in items if isinstance(x, DataFrame)]


class FrameCache:
    """Keyed, bounded, lock-guarded LRU whose entries own persisted
    frames. ``build()`` returns an entry: a DataFrame, or a tuple whose
    DataFrame members are persisted (plain values, such as trained
    centroids, are cached as they are).

    ``build()`` runs outside the lock, so two threads may race on one
    cold key: the first to publish wins and the loser's entry is dropped
    unpersisted. (Unpersisting it would drop the winner's data too:
    Spark caches equal plans once.) Persisting, and re-persisting an
    entry that ``clearCache()`` emptied, happen under the lock, so an
    entry is never persisted after its eviction released it."""

    def __init__(self, bound: int):
        self.bound = bound
        self._entries: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def __len__(self) -> int:
        return len(self._entries)

    def get(self, key, build):
        with self._lock:
            entry = self._entries.get(key)
        built = build() if entry is None else entry
        evicted = []
        with self._lock:
            entry = self._entries.setdefault(key, built)
            self._entries.move_to_end(key)
            for df in _frames(entry):
                if _dropped(df):
                    df.persist()
            while len(self._entries) > self.bound:
                evicted.append(self._entries.popitem(last=False)[1])
        _release(df for old in evicted for df in _frames(old))
        return entry


INTERMEDIATES = FrameCache(8)
INDEXES = FrameCache(16)


def persisted(df: DataFrame) -> DataFrame:
    """Persist a per-call intermediate lazily, owned by
    ``INTERMEDIATES``."""
    return INTERMEDIATES.get(df, lambda: df)


def pin(df: DataFrame, *, truncate: bool, eager: bool = True) -> DataFrame:
    """Pin a loop frame: ``truncate`` cuts lineage with
    ``localCheckpoint``, otherwise the frame is persisted and keeps its
    partitioning (see the module docstring). ``eager`` materializes it
    now; ``eager=False`` defers that to the first action, for fixed-round
    loops with no driver action per round.

    Spark's checkpoint rewrite throws on some plans that reference one
    checkpointed relation twice ("key not found: src#N"); such a frame
    is persisted instead — the same cost per round, with linear lineage.

    A persisted frame is owned by the innermost ``pinned()`` scope of
    this thread. A partition-keeping pin needs one; outside a scope, a
    truncating pin's persist fallback is owned by ``INTERMEDIATES``."""
    stack = _scope_stack()
    scope = stack[-1] if stack else None
    if truncate:
        try:
            return df.localCheckpoint(eager=eager)
        except Exception:
            pass  # persisted below instead
    if scope is not None:
        scope.append(df.persist())
    elif truncate:
        df = persisted(df)
    else:
        raise RuntimeError("pin(truncate=False) outside a pinned() scope")
    if eager:
        df.count()
    return df


@contextmanager
def pinned():
    """Scope that unpersists, on exit, every frame ``pin()`` persisted
    inside it on this thread."""
    frames: list[DataFrame] = []
    stack = _scope_stack()
    stack.append(frames)
    try:
        yield
    finally:
        stack.pop()
        _release(frames)
