"""ReaderCache — the one per-reader cache (LRUQueryCache.java:86 role):
one LRU over (namespace, key), one byte budget, one lock, and hit /
miss / eviction / byte counts per namespace. Every value is a pure
function of its key for the reader's lifetime (the DirectoryReader
contract), so callers fetch OUTSIDE the lock: two threads missing one
key may both fetch it, and the last put wins."""

from __future__ import annotations

import dataclasses
import enum
import threading
from collections import OrderedDict, defaultdict

import numpy as np

MISS = object()  # absent key (None and [] are cacheable negative answers)
OPAQUE_BYTES = 1 << 20  # JVM-backed values (plans, Catalyst Columns): size unseen
ENTRY_BYTES = 128  # key + linked-table node (LINKED_HASHTABLE_RAM_BYTES_PER_ENTRY role)


def nbytes(value) -> int:
    """Bytes charged for one cached value, computed once on put."""
    if isinstance(value, np.ndarray):
        return value.nbytes
    if isinstance(value, (bytes, bytearray, str)):
        return len(value)
    if value is None or isinstance(value, (int, float, np.generic, enum.Enum)):
        return 8  # an Enum member (ast.Occur) is a shared singleton: one reference
    if isinstance(value, (list, tuple)):  # a collected Row is a tuple
        return sum(nbytes(v) for v in value)
    if dataclasses.is_dataclass(value):  # PostingList, query ASTs, compiled specs
        return sum(nbytes(v) for v in vars(value).values())
    return OPAQUE_BYTES


class ReaderCache:
    BUDGET_BYTES = 1 << 30

    def __init__(self):
        self._od: OrderedDict = OrderedDict()  # (ns, key) -> (value, size)
        self._lock = threading.Lock()
        self._counts = defaultdict(lambda: [0, 0, 0, 0])  # ns -> hits, misses, evictions, bytes
        self._bytes = 0

    def get(self, ns: str, key):
        """The cached value, or MISS."""
        return self.get_many(ns, [key]).get(key, MISS)

    def get_many(self, ns: str, keys: list) -> dict:
        """{key: value} of the cached keys, under one lock acquisition —
        a snapshot that later puts (and the evictions they cause) cannot
        take back."""
        out, hits, od = {}, 0, self._od
        with self._lock:
            for key in keys:
                got = od.get((ns, key))
                if got is not None:
                    od.move_to_end((ns, key))
                    out[key] = got[0]
                    hits += 1
            c = self._counts[ns]
            c[0] += hits
            c[1] += len(keys) - hits
        return out

    def put(self, ns: str, key, value):
        """Store and return ``value``. A value over the whole budget is
        returned unstored: it would only evict everything."""
        size = nbytes(value) + ENTRY_BYTES
        if size > self.BUDGET_BYTES:
            return value
        with self._lock:
            old = self._od.pop((ns, key), None)
            delta = size - (old[1] if old else 0)
            self._od[(ns, key)] = (value, size)
            self._counts[ns][3] += delta
            self._bytes += delta
            while self._bytes > self.BUDGET_BYTES:
                (ens, _k), (_v, esz) = self._od.popitem(last=False)
                self._counts[ens][2] += 1
                self._counts[ens][3] -= esz
                self._bytes -= esz
        return value

    def clear(self) -> None:
        with self._lock:
            self._od.clear()
            self._bytes = 0
            for c in self._counts.values():
                c[3] = 0

    def stats(self) -> dict[str, dict[str, int]]:
        """namespace -> {hits, misses, evictions, bytes}."""
        with self._lock:
            names = ("hits", "misses", "evictions", "bytes")
            return {ns: dict(zip(names, c)) for ns, c in self._counts.items()}
