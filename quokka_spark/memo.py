"""Memo — the one driver-side cache policy.

A QuokkaContext is a long-lived session object (reference
pyquokka/df.py:13-134), so anything the driver memoizes across calls
must stay bounded however many tables, files or plans the session
touches. Every driver-side cache is a ``Memo``: an LRU map with a
fixed size cap chosen by its call site, hit/miss/eviction counters,
an optional per-entry eviction callback (e.g. unpersisting a
broadcast), and a lock, because Delta sink handshakes run on py4j
``foreachBatch`` callback threads.

``get`` returns ``MISS`` (not None) for an absent key, so a memoized
``None`` decision is a hit. Correctness is the caller's job: a key must
name everything the value depends on (table identity, file signature,
semantic plan), since entries are never invalidated, only evicted.
"""

from __future__ import annotations

import threading
from collections import OrderedDict

MISS = object()

_ALL: list = []


class Memo:
    def __init__(self, name: str, cap: int, on_evict=None):
        self.name = name
        self.cap = cap
        self._on_evict = on_evict
        self._entries: OrderedDict = OrderedDict()
        self._lock = threading.Lock()
        self.hits = self.misses = self.evictions = 0
        _ALL.append(self)

    def __len__(self) -> int:
        return len(self._entries)

    def get(self, key, default=MISS):
        with self._lock:
            try:
                value = self._entries[key]
            except KeyError:
                self.misses += 1
                return default
            self._entries.move_to_end(key)
            self.hits += 1
            return value

    def put(self, key, value) -> None:
        with self._lock:
            self._entries[key] = value
            self._entries.move_to_end(key)
            evicted = []
            while len(self._entries) > self.cap:
                evicted.append(self._entries.popitem(last=False)[1])
            self.evictions += len(evicted)
        if self._on_evict is not None:
            for value in evicted:
                self._on_evict(value)

    def stats(self) -> dict:
        return {"hits": self.hits, "misses": self.misses,
                "evictions": self.evictions, "size": len(self._entries),
                "cap": self.cap}


def stats() -> dict:
    """{memo name: counters} over every Memo created in this process."""
    return {m.name: m.stats() for m in _ALL}
