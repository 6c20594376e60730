"""Cache ownership for operators: one scope that owns every persist and
checkpoint mark an operator makes, plus the eager-checkpoint helper.

The contract (`CacheScope`):

- register: an operator creates each persist or lazy localCheckpoint
  through its scope (`persist`, `checkpoint`, or `own` for a frame it
  marked itself), at the storage level and plan position it needs;
- release early: `release(frame)` drops a superseded frame as soon as
  nothing downstream re-reads it (CC and pagerank rounds);
- keep or release on exit: `result(df)` applies the `release_cache`
  rule. False (the default) returns the lazy result and keeps the
  marks — a repeat call in the same session is served by the
  plan-matched cache. True materializes the result with
  `eager_checkpoint` and unpersists every mark, so long-lived sessions
  calling the operator on distinct frames stay flat;
- release on failure: an exception leaving the scope unpersists every
  mark still registered, then propagates;
- nesting: marks kept by a scope that exits normally inside another
  operator's scope pass to that outer scope, so a later failure of the
  outer call releases them too;
- no references after exit: the scope forgets its frames when it
  exits, so kept checkpoint RDDs stay collectable by the ContextCleaner;
- caller-released frames: `attach(result, *frames)` hands persisted
  intermediates to the caller, who frees them with `release(result)`
  once done with the result (`result.unpersist()` cannot reach them).

Why `eager_checkpoint` exists: `df.localCheckpoint(eager=True)`
materializes the plan through the RDD path, which does NOT get the
optimized execution a normal action gets — measured on the x16 scale
corpus (tools/scale_curve.py data): checkpointing a verified near-dup
pair frame directly cost 143.7 s even with its internal persists warm,
while count()-ing the same frame cost 61.0 s cold and the checkpoint
AFTER materializing through the cache cost 0.96 s. Checkpoints over
already-checkpointed parents are cheap (0.5-1 s) — the penalty applies
to the FIRST checkpoint over an expensive un-materialized subtree.

Rule: never eager-localCheckpoint an expensive subtree directly;
persist it, materialize with a normal action, checkpoint from the
cache, release the cache. That is what `eager_checkpoint` does.
"""

from __future__ import annotations

import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_ATTACHED = "_attached_caches"
# per-thread stack of open scopes: how a nested operator's kept marks
# find the enclosing operator's scope without a parameter for it
_local = threading.local()


def _open_scopes() -> list:
    if not hasattr(_local, "scopes"):
        _local.scopes = []
    return _local.scopes


class CacheScope:
    """Owner of one operator call's persist and checkpoint marks; see
    the module docstring for the contract. Use as a context manager and
    return through `result`."""

    def __init__(self, release_cache: bool = False):
        self._release_cache = release_cache
        self._frames: list[DataFrame] = []

    def own(self, df: DataFrame) -> DataFrame:
        """Register a frame the operator persisted or checkpointed."""
        self._frames.append(df)
        return df

    def persist(
        self, df: DataFrame, level=StorageLevel.MEMORY_AND_DISK
    ) -> DataFrame:
        """`df.persist(level)`, registered. MEMORY_AND_DISK spills
        instead of OOMing at scale."""
        return self.own(df.persist(level))

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """Lazy `localCheckpoint` mark, registered: lineage truncates
        now, blocks materialize inside the next action's job."""
        return self.own(df.localCheckpoint(eager=False))

    def release(self, df: DataFrame) -> None:
        """Unpersist a superseded frame now."""
        self._frames = [f for f in self._frames if f is not df]
        df.unpersist(blocking=False)

    def result(self, df: DataFrame) -> DataFrame:
        """The operator's return value under the `release_cache` rule."""
        if not (self._release_cache and self._frames):
            return df
        # NOT a direct localCheckpoint: the RDD path re-executes the
        # whole pipeline un-optimized and skips populating the very
        # persists being released here
        out = eager_checkpoint(df)
        self._unpersist_all()
        return out

    def _unpersist_all(self) -> None:
        for f in self._frames:
            f.unpersist(blocking=False)
        self._frames = []

    def __enter__(self) -> CacheScope:
        _open_scopes().append(self)
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        stack = _open_scopes()
        stack.pop()
        if exc_type is not None:
            self._unpersist_all()
        elif stack:
            stack[-1]._frames.extend(self._frames)
        self._frames = []
        return False


def attach(result: DataFrame, *frames: DataFrame) -> DataFrame:
    """Hand `frames` (persisted intermediates `result` reads through)
    to the caller; `release(result)` unpersists them."""
    result.__dict__[_ATTACHED] = frames
    return result


def release(result: DataFrame) -> None:
    """Unpersist the frames attached to `result`; no-op for others."""
    for f in result.__dict__.pop(_ATTACHED, ()):
        f.unpersist(blocking=False)


def eager_checkpoint(df: DataFrame) -> DataFrame:
    """Eagerly checkpointed copy of `df`, materialized through the
    normal (optimized) action path: persist -> count -> checkpoint
    reading the cache -> unpersist. The count also populates any
    persist markers INSIDE df's plan (release_cache flows), which the
    direct RDD-path checkpoint skips.

    A frame the CALLER already persisted is left persisted: persist()
    on a cached frame is a no-op returning the same relation, so the
    unconditional unpersist here would silently evict the caller's own
    cache and make their later actions recompute the subtree."""
    caller_owned = df.storageLevel != StorageLevel.NONE
    cached = df if caller_owned else df.persist()
    try:
        # fused materialization: the lazy checkpoint truncates lineage
        # immediately, and the count job computes the plan THROUGH the
        # cache (InMemoryTableScan populates it, along with any persist
        # markers inside df's plan) while checkpointing the blocks as a
        # side effect — one action instead of count-then-checkpoint (the
        # serialized second job was pure scheduler latency on these
        # metadata-sized frames)
        out = cached.localCheckpoint(eager=False)
        out.count()
    finally:
        if not caller_owned:
            cached.unpersist(blocking=False)
    return out
