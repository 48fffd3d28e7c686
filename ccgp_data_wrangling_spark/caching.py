"""Explicit ownership for persisted intermediates.

Several operators persist a mid-pipeline relation because it feeds two
or three downstream subtrees within one returned plan (signature
tables, exploded gram relations, curation stage outputs). A bare
``.persist()`` there has two session-lifetime problems:

* the blocks are never unpersisted, so a long-lived session leaks one
  cache entry per invocation until entries evict each other, and
* re-invoking the operator re-registers an identical plan, producing
  the ``CacheManager: Asked to cache already cached data`` warning.

:class:`CacheScope` makes the ownership explicit. Callers that want
deterministic cleanup pass their own scope and release it (or use it
as a context manager) once the returned DataFrame has been consumed::

    with CacheScope() as scope:
        out = ngram_jaccard_pairs(docs, "id", "text", scope=scope)
        out.write.parquet(...)
    # intermediates dropped here

Operators that are called without a scope fall back to
:func:`rotating_scope`: a module-level scope keyed by operator name
whose PREVIOUS invocation's blocks are released the next time the
operator runs. Steady-state cache footprint is then at most one
invocation's intermediates per operator — bounded for any session
lifetime — while the common call pattern (build → single action →
move on) still gets full within-plan reuse.

Note the deliberate trade-off: an operator's returned DataFrame only
benefits from the cached intermediates until the operator is invoked
again. Re-running an already-consumed result after that recomputes
from the scan — correct, just not cached. Pass an explicit scope when
you need longer-lived pinning.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

__all__ = ["CacheScope", "rotating_scope", "use_scope", "active_scope"]


class CacheScope:
    """Owns a set of persisted DataFrames; ``release()`` unpersists all."""

    def __init__(self) -> None:
        self._dfs: list[DataFrame] = []

    def persist(
        self, df: DataFrame, level: StorageLevel | None = None
    ) -> DataFrame:
        # Idempotent by plan: if the CacheManager already holds this
        # logical plan (a previous run of the same query inside this
        # scope, or another scope), reuse it without re-registering —
        # re-persisting an identical plan only produces the
        # "Asked to cache already cached data" warning. Ownership stays
        # with whichever scope persisted first.
        if df.storageLevel != StorageLevel.NONE:
            return df
        df = df.persist() if level is None else df.persist(level)
        self._dfs.append(df)
        return df

    def release(self) -> None:
        while self._dfs:
            self._dfs.pop().unpersist()

    def __enter__(self) -> "CacheScope":
        return self

    def __exit__(self, *exc) -> None:
        self.release()


_ROTATING: dict[str, CacheScope] = {}
_AMBIENT: list[CacheScope] = []


def rotating_scope(key: str) -> CacheScope:
    """Fresh scope for ``key``, releasing the previous invocation's.

    The fallback scope for operators invoked without one: bounds the
    session's cache footprint to one live invocation per operator.
    """
    old = _ROTATING.get(key)
    if old is not None:
        old.release()
    scope = CacheScope()
    _ROTATING[key] = scope
    return scope


@contextmanager
def use_scope(scope: CacheScope):
    """Make ``scope`` the ambient cache owner for the enclosed block.

    Operators called inside the block (without an explicit ``scope=``)
    persist into it instead of their rotating default, so a caller can
    pin intermediates across repeated invocations (e.g. the perfbench
    child, which gives each timed query its own scope) and release
    them all at one deterministic point. Reentrant; the innermost
    scope wins.
    """
    _AMBIENT.append(scope)
    try:
        yield scope
    finally:
        _AMBIENT.pop()


def active_scope(key: str) -> CacheScope:
    """The ambient scope if one is installed, else ``rotating_scope(key)``."""
    if _AMBIENT:
        return _AMBIENT[-1]
    return rotating_scope(key)
