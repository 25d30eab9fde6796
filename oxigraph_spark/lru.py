"""Bounded, thread-safe least-recently-used map — the one eviction
policy behind the engine's per-object memos (``Store``'s plan cache,
``DirectMappingSource``'s scan memo)."""

from __future__ import annotations

import threading
from collections import OrderedDict


class LRUCache:
    """``get`` refreshes an entry; ``put`` past ``capacity`` evicts the
    least recently used one.  Every operation holds one lock, so
    concurrent request threads can share an instance."""

    def __init__(self, capacity: int):
        self.capacity = capacity
        self._data: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def get(self, key, default=None):
        with self._lock:
            if key not in self._data:
                return default
            self._data.move_to_end(key)
            return self._data[key]

    def put(self, key, value) -> None:
        with self._lock:
            self._data[key] = value
            self._data.move_to_end(key)
            while len(self._data) > self.capacity:
                self._data.popitem(last=False)

    def keys(self) -> list:
        """Keys from least to most recently used."""
        with self._lock:
            return list(self._data)

    def __len__(self) -> int:
        return len(self._data)
