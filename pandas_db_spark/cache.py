"""Driver-side memoization of scalar action results.

The reference memoizes ``fetchall()`` results keyed by the exact SQL string,
with per-item and total caps in MB (``pandasdb/cache.py:39-92``).  Spark caches
*data* (``df.persist``) but never action results, so the memo dict is the one
piece of the reference's execution model we re-implement verbatim — keyed here
by ``(plan_key, op, args)`` instead of SQL text.

Size accounting uses a small recursive ``sizeof`` (the reference used
``pympler.asizeof``, ``pandasdb/utils.py:155-163``; pympler is not a dependency
here and byte-exact parity is not part of the behavioral contract).
"""

from __future__ import annotations

import sys
import threading
from typing import TYPE_CHECKING, Any, Hashable

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

MB = 1024 * 1024


def _plan_key(df: DataFrame) -> int | None:
    """Stable fingerprint of the logical plan for result memoization.
    On failure return None → the caller bypasses the cache entirely
    (an id()-based fallback could collide after GC reuses the address and
    serve a stale result for a different plan)."""
    try:
        return df.semanticHash()
    except Exception:
        return None


def deep_sizeof(obj: Any, _seen: set[int] | None = None) -> int:
    """Approximate recursive size in bytes."""
    if _seen is None:
        _seen = set()
    oid = id(obj)
    if oid in _seen:
        return 0
    _seen.add(oid)
    size = sys.getsizeof(obj)
    if isinstance(obj, dict):
        size += sum(deep_sizeof(k, _seen) + deep_sizeof(v, _seen) for k, v in obj.items())
    elif isinstance(obj, (list, tuple, set, frozenset)):
        size += sum(deep_sizeof(x, _seen) for x in obj)
    return size


class Cache:
    """Memo for scalar/small action results.

    Mirrors the gate in reference ``cache.py:70-92``: store only if the item is
    ≤ ``max_item_size`` MB and total stays ≤ ``max_dict_size`` MB.
    """

    def __init__(self, cache: bool = True, max_item_size: int = 2, max_dict_size: int = 100):
        self.enabled = cache
        self.max_item_size = max_item_size * MB
        self.max_dict_size = max_dict_size * MB
        self._data: dict[Hashable, Any] = {}
        self._size = 0
        # put() runs from the populate_cache thread pool: the membership
        # check, the size gate and both updates must be one step
        self._lock = threading.Lock()
        self.is_ready = False

    def __contains__(self, key: Hashable) -> bool:
        return key in self._data

    def __len__(self) -> int:
        return len(self._data)

    def get(self, key: Hashable, default: Any = None) -> Any:
        return self._data.get(key, default)

    def put(self, key: Hashable, value: Any) -> None:
        if not self.enabled:
            return
        size = deep_sizeof(value)
        with self._lock:
            if (key in self._data or size > self.max_item_size
                    or self._size + size > self.max_dict_size):
                return
            self._data[key] = value
            self._size += size

    def memo(self, key: Hashable, compute):
        """Return cached value or compute-and-store."""
        if self.enabled and key in self._data:
            return self._data[key]
        value = compute()
        self.put(key, value)
        return value

    def clear(self) -> None:
        with self._lock:
            self._data.clear()
            self._size = 0
        self.is_ready = False
