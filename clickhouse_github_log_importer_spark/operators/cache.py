"""Caller-controlled lifetimes for persisted intermediates.

Several operators persist an intermediate that both sides of a self-join
consume (MinHash band table, SimHash signatures, LSH-bucketed vectors,
Jaccard shingle sets). Persisting is the right call — without it the join
recomputes the full upstream pipeline per side (~2x measured) — but a
bare ``.persist()`` leaks: in a long-lived pipeline the blocks accrete
until LRU eviction starts thrashing.

:class:`CacheScope` makes the lifetime explicit. Operators accept an
optional ``scope``; when given, every internal persist registers there
and the caller unpersists after the consuming action:

    with CacheScope(spark) as scope:
        pairs = lsh_candidate_pairs(docs, scope=scope)
        pairs.write.parquet(out)          # consuming action inside scope
    # exiting unpersists the band table

Without a scope the operator keeps the historical behavior (persist and
rely on LRU), which is fine for one-shot queries like the driver's
correctness runs where the session ends soon after.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame


class CacheScope:
    """Tracks DataFrames persisted on behalf of a caller.

    Context-manager: ``__exit__`` unpersists everything registered, in
    reverse registration order (dependents before dependencies).

    Thread-safe and CLOSED after ``unpersist_all``: under a rotating
    registry (below) thread B can rotate-and-flush a scope after thread
    A received it but before A persisted into it — without the closed
    flag A's frames would register into an orphaned scope nothing ever
    flushes (a permanent cache leak). ``persist`` on a closed scope
    unpersists the frame immediately instead: the rotation already
    decided this scope's lifetime is over, so the caller pays a
    recompute, never a leak.
    """

    def __init__(self) -> None:
        self._frames: list[DataFrame] = []
        self._lock = threading.Lock()
        self._closed = False

    def persist(self, df: DataFrame) -> DataFrame:
        out = df.persist()
        with self._lock:
            if not self._closed:
                self._frames.append(out)
                return out
        out.unpersist()
        return out

    def register(self, df: DataFrame) -> DataFrame:
        """Track an already-materialization-managed frame (e.g. a lazy
        ``localCheckpoint``) for release on scope close WITHOUT calling
        ``persist`` on it. Same closed-scope rule as :meth:`persist`:
        registering into a rotated-out scope releases immediately."""
        with self._lock:
            if not self._closed:
                self._frames.append(df)
                return df
        df.unpersist()
        return df

    def unpersist_all(self, blocking: bool = False) -> None:
        with self._lock:
            frames = list(reversed(self._frames))
            self._frames.clear()
            self._closed = True
        for df in frames:
            df.unpersist(blocking)

    def __enter__(self) -> "CacheScope":
        return self

    def __exit__(self, *exc) -> bool:
        self.unpersist_all()
        return False


def persist_in(scope: CacheScope | None, df: DataFrame) -> DataFrame:
    """persist `df`, registering with `scope` when one is given.

    With ``scope=None`` the ambient entry scope (below) is used when one
    is active, so registry entries that call persisting operators without
    threading a scope still get bounded lifetimes; outside any entry the
    historical bare-persist/LRU behavior remains.

    A frame that is ALREADY cached is returned untouched (r13): its
    lifetime belongs to whoever persisted it — e.g. the bounded
    cross-entry edge memo ``_COACT_EDGES`` — and re-registering it here
    handed that frame to the caller's ROTATING scope, whose next-
    invocation rotation unpersisted it out from under its owner (the
    r12 ambient-scope change silently broke the deliberate shared
    persists this way: measured as the coactivity entries recomputing
    the full distinct+self-join edge pipeline every second invocation).
    """
    if df.is_cached:
        return df
    if scope is None:
        scope = ambient_scope()
    return scope.persist(df) if scope is not None else df.persist()


def checkpoint_in(scope: CacheScope | None, df: DataFrame) -> DataFrame:
    """Materialization point for a multi-consumer chain intermediate:
    lazy ``localCheckpoint`` registered with the (explicit or ambient)
    scope. Lazy: the first consuming job materializes the blocks; until
    then nothing executes.

    A checkpoint truncates the LOGICAL plan, so every later
    transformation's eager analysis, the optimizer run at action time,
    and each consuming branch walk a leaf instead of the full upstream
    tree (measured on the 4-step compiled chain at sf0.1: build 0.87 ->
    0.61 s, execute 2.99 -> 1.93 s vs a persisted base). The trade is
    mid-query fault tolerance: a lost executor fails the query instead
    of recomputing the lost partitions — ClickHouse's own posture (a
    replica loss fails the query)."""
    out = df.localCheckpoint(eager=False)
    if scope is None:
        scope = ambient_scope()
    return scope.register(out) if scope is not None else out


_AMBIENT = threading.local()


def ambient_scope() -> CacheScope | None:
    """The entry scope installed for the current thread, if any."""
    return getattr(_AMBIENT, "scope", None)


@contextmanager
def entry_scope(key: str):
    """Install a rotating scope as this thread's ambient persist sink.

    The registry wraps every entry function in ``entry_scope("entry:" +
    name)``: persists made while the entry builds its plan (directly or
    deep inside an operator that defaults ``scope=None``) register into a
    scope that rotates on the entry's NEXT invocation — exactly the
    lazily-returned-plan lifetime :func:`rotating_scope` documents. The
    previous ambient scope is restored on exit so an entry invoking
    another entry's raw function keeps the outer lifetime (nesting only
    occurs for wrapped-entry-inside-wrapped-entry, where the inner
    rotation is independent by key)."""
    prev = getattr(_AMBIENT, "scope", None)
    _AMBIENT.scope = rotating_scope(key)
    try:
        yield
    finally:
        _AMBIENT.scope = prev


_ROTATING: dict[str, CacheScope] = {}
_ROTATING_LOCK = threading.Lock()


def rotating_scope(key: str) -> CacheScope:
    """A CacheScope whose lifetime is "until the next call with the same
    key": lazily-returned registry entries can't unpersist-after-action
    (the action happens in the caller — driver collect, bench loop, HTTP
    envelope), so a bare ``.persist()`` there accretes one cached frame
    per invocation.  Rotating the scope bounds the storage layer at ONE
    live frame set per entry name: each call first unpersists whatever
    the previous call with this key persisted (its action is long done
    by then), then hands out a fresh scope for the new plan.

    Thread-safe: the API server is a ThreadingHTTPServer, so two
    concurrent requests for the same entry can race the pop/insert —
    without the lock one scope would be overwritten un-unpersisted (a
    cache leak). The lock makes rotation atomic. If request B rotates
    while request A's action is still running, A's blocks are
    unpersisted mid-flight — Spark recomputes them (correct, just
    slower); bounding storage beats optimizing the concurrent-same-
    entry corner."""
    with _ROTATING_LOCK:
        old = _ROTATING.pop(key, None)
        scope = CacheScope()
        _ROTATING[key] = scope
    if old is not None:
        old.unpersist_all()
    return scope
