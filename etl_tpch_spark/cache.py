"""Derived-state cache: the one place that decides how a derivation is
keyed, invalidated, locked and stored.

Two lifecycles cover every cache in the engine:

- :func:`memo` — the in-session memo.  The key is the SparkSession
  object (held weakly, so an entry dies with its session and another
  session simply misses), a ``kind`` and an ``identity`` (what the
  value is of: a fixture path, an index path, build parameters).  Each
  key keeps ONE live ``version`` (what the value was derived from: a
  ``catalog.table_stamp``, a snapshot version).  A call with a new
  version unpersists every DataFrame in the old value and rebuilds, so
  a regenerated fixture or a ticked index never serves a stale
  derivation and never pins superseded executor storage.  A hit takes
  no lock and makes no py4j call; a miss takes a per-key lock and
  checks again, so concurrent planners build once, and nested misses
  (an edge list building a k-means fit) take different locks.
- :func:`stored` — build once, open many times, on disk.  One
  directory per (kind, identity, stamp) generation
  (``catalog.artifact_store``); a complete generation is opened, an
  incomplete one is removed and rebuilt, and the completion marker is
  written last (``catalog.mark_store_complete``), so a crashed build
  is rebuilt, never half-read.

:func:`stats` reports plain hit / miss / eviction counts of the memo;
:func:`clear` drops every memo entry (tests simulate a fresh session
with it).
"""

from __future__ import annotations

import os
import shutil
import threading
import weakref
from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import DataFrame

_MISSING = object()

# session → {(kind, identity): (version, value)}; a value is replaced
# as one tuple, so a lock-free reader sees a version with its own value
_ENTRIES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
# session → {(kind, identity): miss lock}
_MISS_LOCKS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
# (kind, identity) → build lock of one on-disk store
_STORE_LOCKS: dict[tuple[str, str], threading.Lock] = {}
# guards creation of the per-session dicts and the per-key locks
_GUARD = threading.Lock()
_STATS = {"hits": 0, "misses": 0, "evictions": 0}


def _release(value) -> None:
    """Unpersist every DataFrame in a superseded value (the value
    itself, or any item of a tuple value)."""
    for item in value if isinstance(value, tuple) else (value,):
        if isinstance(item, DataFrame):
            item.unpersist()


def _count(stat: str) -> None:
    with _GUARD:  # misses of different keys run concurrently
        _STATS[stat] += 1


def memo(
    spark,
    kind: str,
    identity: Hashable,
    version: Hashable,
    build: Callable[[], Any],
):
    """The value of ``build()`` for (``spark``, ``kind``,
    ``identity``) at ``version`` — built at most once per version in
    each session (see the module docstring)."""
    key = (kind, identity)
    hit = _ENTRIES.get(spark, {}).get(key, _MISSING)
    if hit is not _MISSING and hit[0] == version:
        _STATS["hits"] += 1  # lock-free: concurrent hits may undercount
        return hit[1]
    with _GUARD:
        entries = _ENTRIES.setdefault(spark, {})
        lock = _MISS_LOCKS.setdefault(spark, {}).setdefault(
            key, threading.Lock()
        )
    with lock:
        old = entries.get(key, _MISSING)
        if old is not _MISSING:
            if old[0] == version:  # built by the thread we waited on
                _count("hits")
                return old[1]
            del entries[key]
            _release(old[1])
            _count("evictions")
        _count("misses")
        value = build()
        entries[key] = (version, value)
        return value


def stored(
    kind: str,
    identity: str,
    stamp: str,
    build: Callable[[str], Any],
    open: Callable[[str], Any],
):
    """Build-once / open-many artifact: ``open(dir)`` when the
    (kind, identity, stamp) generation is complete, else wipe the
    incomplete generation, ``build(dir)`` into it and mark it complete.
    Serialized per (kind, identity) within the process; a new stamp
    maps to a new generation directory, so readers of an older one
    keep their files."""
    from .catalog import artifact_store, mark_store_complete

    with _GUARD:
        lock = _STORE_LOCKS.setdefault((kind, identity), threading.Lock())
    with lock:
        path, complete = artifact_store(kind, identity, stamp)
        if complete:
            return open(path)
        shutil.rmtree(path, ignore_errors=True)  # incomplete gen only
        os.makedirs(path, exist_ok=True)
        value = build(path)
        mark_store_complete(path, stamp)
        return value


def stats() -> dict[str, int]:
    """Memo hit / miss / eviction counts since start (or clear()).
    Misses and evictions are exact; hits are counted without a lock,
    so hits racing in other threads may go uncounted."""
    return dict(_STATS)


def clear() -> None:
    """Drop (and unpersist) every memo entry of every session and zero
    the counts."""
    with _GUARD:
        for entries in list(_ENTRIES.values()):
            for _version, value in entries.values():
                _release(value)
        _ENTRIES.clear()
        _MISS_LOCKS.clear()
        for k in _STATS:
            _STATS[k] = 0
