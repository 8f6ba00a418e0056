"""One bounded, single-flight LRU cache for every server-side store.

The reference server holds no caches of its own (service.rs:171 re-plans
on every RPC). The stores this port does keep — the shared MinHash front
ends (``operators/dedup.py``), the trained coarse quantizers
(``operators/similarity.py``) and the staged multi-endpoint results
(``server/service.py``) — all use this one primitive, so they share one
set of rules for locking, eviction, waiting and failure:

- ``get_or_build`` runs ``build()`` once per key, outside the lock.
  Callers of the same key wait for that build; callers of other keys do
  not. A wait is bounded by ``WAIT_TIMEOUT_S``.
- A build that raises is not cached: its error reaches every waiter, and
  the next caller builds again.
- Eviction is LRU down to ``maxsize`` and never drops an in-flight
  entry, whose value another thread may still be materializing.
- ``on_evict(value)`` runs, outside the lock, for every value the cache
  drops. Its exceptions are swallowed: the session behind a value may
  already be stopped.
"""

from __future__ import annotations

import threading
from collections import OrderedDict

#: How long a caller waits for another thread's build of the same key
#: before it raises ``TimeoutError`` instead of hanging behind it.
WAIT_TIMEOUT_S = 300.0


class _Entry:
    __slots__ = ("ready", "value", "error")

    def __init__(self) -> None:
        self.ready = threading.Event()
        self.value = None
        self.error: BaseException | None = None


class BoundedCache:
    """A thread-safe LRU of at most ``maxsize`` built entries (in-flight
    builds may hold it over the bound until they finish)."""

    def __init__(self, maxsize: int, on_evict=None):
        if maxsize < 1:
            raise ValueError(f"maxsize must be >= 1, got {maxsize!r}")
        self.maxsize = maxsize
        self._on_evict = on_evict
        self._lock = threading.Lock()
        self._entries: "OrderedDict[object, _Entry]" = OrderedDict()

    def __len__(self) -> int:
        with self._lock:
            return len(self._entries)

    def get_or_build(self, key, build):
        """Return the value cached under ``key``, building it with
        ``build()`` on a miss. A finished build counts as most recently
        used. Raises ``TimeoutError`` naming the key when another thread's
        build of it does not finish within ``WAIT_TIMEOUT_S``."""
        with self._lock:
            entry = self._entries.get(key)
            owner = entry is None
            if owner:
                entry = self._entries[key] = _Entry()
                evicted = self._trim()
            else:
                self._entries.move_to_end(key)
        if not owner:
            if not entry.ready.wait(WAIT_TIMEOUT_S):
                raise TimeoutError(
                    f"cache entry {key!r} was not built within "
                    f"{WAIT_TIMEOUT_S:g} s by the thread building it"
                )
            if entry.error is not None:
                raise entry.error
            return entry.value
        self._evict(evicted)
        try:
            entry.value = build()
        except BaseException as exc:
            with self._lock:
                if self._entries.get(key) is entry:
                    del self._entries[key]
            entry.error = exc
            entry.ready.set()
            raise
        with self._lock:
            if self._entries.get(key) is entry:
                self._entries.move_to_end(key)
            evicted = self._trim()
            entry.ready.set()
        self._evict(evicted)
        return entry.value

    def put(self, key, value) -> None:
        """Cache ``value`` under ``key`` as the most recently used entry."""
        entry = _Entry()
        entry.value = value
        with self._lock:
            old = self._entries.pop(key, None)
            self._entries[key] = entry
            evicted = self._trim()
            entry.ready.set()
        if old is not None and old.ready.is_set() and old.value is not value:
            evicted.append(old.value)
        self._evict(evicted)

    def get(self, key):
        """The built value under ``key`` (refreshing its recency), or
        ``None`` when the key is absent or still being built."""
        with self._lock:
            entry = self._entries.get(key)
            if entry is None or not entry.ready.is_set():
                return None
            self._entries.move_to_end(key)
            return entry.value

    def discard(self, key, value) -> None:
        """Drop ``key`` only if it still holds ``value`` — a caller that
        found a stale value cannot drop a fresh one another thread put."""
        with self._lock:
            entry = self._entries.get(key)
            if entry is None or not entry.ready.is_set() or entry.value is not value:
                return
            del self._entries[key]
        self._evict([value])

    def clear(self) -> None:
        """Drop every built entry. In-flight builds finish and stay."""
        with self._lock:
            evicted = [
                self._entries.pop(k).value
                for k, e in list(self._entries.items())
                if e.ready.is_set()
            ]
        self._evict(evicted)

    def _trim(self) -> list:
        """Pop least recently used built entries down to ``maxsize``;
        caller holds the lock and passes the result to ``_evict``. Callers
        mark a new entry ready only after the trim, so the trim never
        drops the value it was just inserted to hold."""
        evicted = []
        for k in [k for k, e in self._entries.items() if e.ready.is_set()]:
            if len(self._entries) <= self.maxsize:
                break
            evicted.append(self._entries.pop(k).value)
        return evicted

    def _evict(self, values: list) -> None:
        if self._on_evict is None:
            return
        for value in values:
            try:
                self._on_evict(value)
            except Exception:  # the session behind the value may be stopped
                pass
