"""The engine's one cache for state kept between calls: catalog table maps,
fulltext/IVF/IVF-PQ/LSH indexes, the S2 point set, the streaming child
session and the stream schema.

Entries are keyed by (session, namespace, key), so a value built on one
session is never handed to another (a temp view registered through a cached
frame lands on the frame's session). Each namespace is an LRU of at most
``MAX_ENTRIES``; an evicted value's ``unpersist()`` is called if it has one,
so persisted frames always have an owner that releases them. Session
identity is a UUID kept in the session's runtime conf: one py4j call per
lookup, and ``newSession()`` children start without it.
Builds run under the cache's lock, so concurrent callers wait for one build
instead of building twice; a ``build`` must not wait on another thread that
uses the cache.
"""

from __future__ import annotations

import threading
import uuid
from collections import OrderedDict
from typing import Callable, Hashable, TypeVar

T = TypeVar("T")

SESSION_TAG = "spark._mospark_session_id"
MAX_ENTRIES = 8  # per namespace

_entries: "dict[str, OrderedDict]" = {}
_stats: "dict[str, dict[str, int]]" = {}
_lock = threading.RLock()  # re-entrant: a build may look up other namespaces


def session_id(spark) -> str:
    """This session's identity; the first call on a session tags its conf."""
    sid = spark.conf.get(SESSION_TAG, None)
    if sid is None:
        sid = uuid.uuid4().hex
        spark.conf.set(SESSION_TAG, sid)
    return sid


def cached(spark, ns: str, key: Hashable, build: Callable[[], T]) -> T:
    """The value cached for (``spark``, ``ns``, ``key``); ``build()`` makes
    it on a miss (and persists whatever it wants kept in executor storage)."""
    with _lock:
        full = (session_id(spark), key)
        lru = _entries.setdefault(ns, OrderedDict())
        stats = _stats.setdefault(ns, {"hits": 0, "misses": 0, "evictions": 0})
        if full in lru:
            stats["hits"] += 1
            lru.move_to_end(full)
            return lru[full]
        stats["misses"] += 1
        value = lru[full] = build()
        while len(lru) > MAX_ENTRIES:
            _, old = lru.popitem(last=False)
            stats["evictions"] += 1
            if hasattr(old, "unpersist"):
                old.unpersist()
        return value


def cache_stats() -> "dict[str, dict[str, int]]":
    """Per namespace: hits, misses, evictions and current entries."""
    with _lock:
        return {ns: {**s, "entries": len(_entries[ns])} for ns, s in _stats.items()}
