"""One pin lifecycle: every cache and checkpoint the package takes, and
every release of one, goes through this module.

Two pin kinds, each kept where the calling code chose it:

- ``cache(df)``: a lazy ``.cache()`` (MEMORY_AND_DISK), filled by the
  first action that reads it and matched by plan;
- ``checkpoint(df)``: an eager ``localCheckpoint()``, which
  materializes now and truncates the plan. A local checkpoint has no
  public unpersist, so its persisted RDD is captured from the returned
  plan — never by diffing the global registry, which would sweep up a
  concurrent job's pin and release it.

A pin belongs to the code that made it. ``cache`` of a plan that is
already cached makes no pin, so a callee never releases its caller's
cache. ``release(*pinned)`` is the owner's early release; ``scope()``
releases, on exit, every pin made inside it, including pins made on
``session.overlap()`` branches (they run in the caller's context).
Open a scope only around work that consumes its pins before it
returns: a pin that a returned lazy plan reads belongs to the caller's
scope. With no scope open nothing is recorded, and a pin lives until
it is released or the session's ContextCleaner collects it.

``Window`` is the iterative loops' rule (operators/graph.py): rounds
cache inside a window, and ``roll`` checkpoints the state, then
releases what that checkpoint supersedes — never before the successor
is durable, since a local checkpoint cannot recompute.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

_HANDLE = "_pin_handle"  # the JVM object whose unpersist releases the pin
_scope: ContextVar[list | None] = ContextVar("pins_scope", default=None)


def _pin(out: DataFrame, handle) -> DataFrame:
    """Mark ``out`` (a frame no caller holds yet) as carrying the pin
    ``handle`` and record it in the innermost open scope."""
    vars(out)[_HANDLE] = handle
    pinned = _scope.get()
    if pinned is not None:
        pinned.append(out)
    return out


def cache(df: DataFrame) -> DataFrame:
    """``df.cache()``, owned by the caller unless the plan is already
    cached (then the existing entry serves it and nothing is pinned)."""
    if df._jdf.storageLevel().toInt() != 0:
        # a fresh frame: releasing it must not release the caller's pin
        return type(df)(df._jdf, df.sparkSession)
    jdf = df._jdf.cache()
    return _pin(type(df)(jdf, df.sparkSession), jdf)


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``df.localCheckpoint()`` plus the persisted RDD's handle."""
    out = df.localCheckpoint()
    try:
        handle = out._jdf.queryExecution().analyzed().rdd()
    except Exception:
        # plan-shape drift across Spark versions: keep the checkpoint
        # pinned rather than guess from the global registry
        return out
    return _pin(out, handle)


def release(*pinned: DataFrame) -> None:
    """Release each pin now (non-blocking); a frame that carries no pin,
    or one already released, is left alone."""
    for df in pinned:
        handle = vars(df).pop(_HANDLE, None)
        if handle is not None:
            handle.unpersist(False)


@contextmanager
def scope():
    """Release, on exit, every pin made inside; usable as a decorator."""
    pinned: list = []
    token = _scope.set(pinned)
    try:
        yield
    finally:
        _scope.reset(token)
        release(*pinned)


class Window:
    """One checkpoint window of an iterative loop: the caches opened
    since the last boundary and that boundary's checkpoint."""

    def __init__(self) -> None:
        self.pinned: list[DataFrame] = []

    def cache(self, df: DataFrame) -> DataFrame:
        df = cache(df)
        self.pinned.append(df)
        return df

    def roll(self, state: DataFrame) -> DataFrame:
        """Checkpoint ``state`` (materializes the window), then release
        everything the checkpoint supersedes."""
        state = checkpoint(state)
        release(*self.pinned)
        self.pinned = [state]
        return state
