"""The engine's one memo: every computed value the engine reuses lives here.

A value is keyed by ``(kind, params)``.  ``params`` must carry every input
the value depends on — gate thresholds and band layouts, the warehouse
root, the hook functions themselves (never their ``id()``, which a later
function can reuse) — so a caller with other inputs misses instead of
silently sharing a stale value.

Scope is the Spark application, implicitly: the memo remembers which
``SparkContext`` (the Python object, no py4j round trip) its entries were
built under, and the first call that sees a different one drops them all
without running their release hooks — a stopped JVM is never called into.

* ``get`` builds a missing value once, however many threads ask for it at
  the same time (single flight), optionally going through an
  :class:`~.datapipe.artifacts.ArtifactStore` tier first: in-process, then
  store, then build-and-save.
* ``invalidate`` drops matching entries and runs their release hooks; a
  build that overlapped the invalidation returns its value to its callers
  but does not insert it (it may have read the state the invalidation
  retired).
* ``own`` holds a per-construction value in a slot: the previous holder
  is released before the next one is built, so repeated constructions
  keep one entry instead of piling up; ``persist`` is that for a
  persisted DataFrame.

The engine owns the lifecycle of what it caches (Shark, SIGMOD 2013):
entries leave explicitly, never by waiting for the garbage collector.
"""

from __future__ import annotations

import threading
from collections import namedtuple
from concurrent.futures import Future
from typing import Any, Callable, Optional

from pyspark import SparkContext, StorageLevel
from pyspark.sql import DataFrame

#: store tier of a ``get``: load ``name`` at ``token`` from ``store`` as a
#: ``form`` ("df", "arrays" or "json") payload; a df loads into ``spark``
Tier = namedtuple("Tier", "store name token form spark", defaults=(None,))

_lock = threading.Lock()
_entries: dict = {}      # kind -> {params: (value, release)}
_flights: dict = {}      # (kind, params) -> Future of the running build
_gens: dict = {}         # kind -> invalidation count
_scope: list = [None]    # the SparkContext the entries belong to


def _check_scope() -> None:
    """Drop everything (no release hooks) once the application changed.
    Called with ``_lock`` held."""
    sc = SparkContext._active_spark_context
    if sc is not _scope[0]:
        _scope[0] = sc
        _entries.clear()
        _gens.clear()


def get(kind: str, params: Any, build: Callable[[], Any],
        release: Optional[Callable[[Any], None]] = None,
        store: Optional[Tier] = None, cap: Optional[int] = None) -> Any:
    """The value of ``(kind, params)``, built by ``build()`` at most once.

    ``params=None`` means the caller opted out of reuse: the value is
    built (never loaded or saved) and nothing is kept.  With ``store`` the
    value is the store's payload ``(data, extra)`` — loaded when the store
    holds ``name`` at ``token``, else ``build()``-ed, saved and (for a df)
    read back, so this application already runs on the persisted artifact.
    The token joins the key.  ``cap`` keeps at most that many entries of
    ``kind``; past it values are returned but not kept."""
    if params is None:
        return build()
    if store is not None:
        params = (params, store.token)
    key = (kind, params)
    with _lock:
        _check_scope()
        hit = _entries.get(kind, {}).get(params)
        if hit is not None:
            return hit[0]
        flight = _flights.get(key)
        leader = flight is None
        if leader:
            flight = _flights[key] = Future()
            gen, scope = _gens.get(kind, 0), _scope[0]
    if not leader:
        return flight.result()
    try:
        value = build() if store is None else _through(store, build)
    except BaseException as e:
        with _lock:
            _flights.pop(key, None)
        flight.set_exception(e)
        raise
    with _lock:
        _flights.pop(key, None)
        _check_scope()
        slot = _entries.setdefault(kind, {})
        if (_gens.get(kind, 0) == gen and _scope[0] is scope
                and (cap is None or len(slot) < cap)):
            slot[params] = (value, release)
    flight.set_result(value)
    return value


def _through(tier: Tier, build: Callable[[], Any]) -> Any:
    """The store tier: load, else build, save and (df) load back."""
    st, name, token, form, spark = tier

    def load():
        if form == "df":
            return st.load_df(spark, name, token)
        return getattr(st, f"load_{form}")(name, token)

    got = load()
    if got is not None:
        return got
    data, extra = build()
    if form == "arrays":
        st.save_arrays(name, token, extra, **data)
    else:
        getattr(st, f"save_{form}")(name, token, data, extra)
    return (load() or (data, extra)) if form == "df" else (data, extra)


def invalidate(kind: Optional[str] = None,
               match: Optional[Callable[[Any], bool]] = None) -> None:
    """Drop the entries of ``kind`` (every kind when None) whose params
    satisfy ``match`` (all when None), running their release hooks.  Any
    build of ``kind`` in flight is not inserted when it finishes."""
    dropped = []
    with _lock:
        _check_scope()
        for k in ([kind] if kind is not None else list(_entries)):
            _gens[k] = _gens.get(k, 0) + 1
            slot = _entries.get(k, {})
            for p in [p for p in slot if match is None or match(p)]:
                dropped.append(slot.pop(p))
    _release(dropped)


def own(kind: str, params: Any, build: Callable[[], Any],
        release: Callable[[Any], None]) -> Any:
    """A fresh per-construction value held in the ``(kind, params)`` slot.

    The slot's previous value is released BEFORE ``build`` runs: a
    ``persist`` of a plan Spark already caches is a no-op, so releasing
    afterwards would uncache the new holder's data too."""
    with _lock:
        _check_scope()
        old = _entries.get(kind, {}).pop(params, None)
    _release([old] if old else [])
    value = build()
    with _lock:
        _check_scope()
        raced = _entries.setdefault(kind, {}).get(params)
        _entries[kind][params] = (value, release)
    _release([raced] if raced else [])
    return value


def persist(kind: str, params: Any, df):
    """``df`` persisted MEMORY_AND_DISK (recomputable lineage, spills
    instead of OOMing) and owned by the ``(kind, params)`` slot.  A frame
    with the slot holder's plan gets the holder back: Spark shares one
    cache entry between equal plans, so a repeated construction reads the
    data its predecessor cached.  Any other plan releases the holder."""
    held = peek(kind, params)
    if held is not None and held.sameSemantics(df):
        return held
    return own(kind, params,
               lambda: df.persist(StorageLevel.MEMORY_AND_DISK),
               release=DataFrame.unpersist)


def peek(kind: str, params: Any) -> Any:
    """The kept value of ``(kind, params)`` or None — never builds."""
    with _lock:
        _check_scope()
        hit = _entries.get(kind, {}).get(params)
    return None if hit is None else hit[0]


def _release(entries) -> None:
    for value, release in entries:
        if release is not None:
            release(value)
