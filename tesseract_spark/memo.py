"""The engine's two memoization primitives: a bounded LRU map and a
single-flight coalescer. Every engine cache goes through them — the HTTP
response cache (the engine-local analog of the reference's Redis cache,
util.rs:156-224), the plan builder's plan and join-template caches, and the
JPEG codec's content-keyed Huffman tables.

The module registers itself with PySpark's cloudpickle to travel by value:
``operators.jpeg`` is shipped by value into Python workers that need not
have this package on their path, and its Lru caches travel with it (the
classes use only the standard library, so they rebuild anywhere).
"""

from __future__ import annotations

import sys
import threading
import time
from collections import OrderedDict

from pyspark import cloudpickle as _cloudpickle


class Lru:
    """Thread-safe bounded LRU map: ``get`` refreshes an entry's recency,
    ``put`` beyond ``capacity`` evicts the least recently used entry, and
    ``hits``/``misses`` count ``get`` outcomes (``clear`` keeps them, so
    callers can take deltas across a flush).

    Pickles — with plain pickle and cloudpickle alike — as an EMPTY cache of
    the same capacity: a lock cannot be pickled, and a module shipped by
    value into Python workers (``operators.jpeg``) brings its module-level
    caches along; a worker rebuilds their contents on demand."""

    def __init__(self, capacity: int):
        self.capacity = capacity
        self.hits = 0
        self.misses = 0
        self._data: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def get(self, key, default=None):
        with self._lock:
            try:
                self._data.move_to_end(key)
            except KeyError:
                self.misses += 1
                return default
            self.hits += 1
            return self._data[key]

    def put(self, key, value) -> None:
        with self._lock:
            self._data[key] = value
            self._data.move_to_end(key)
            if len(self._data) > self.capacity:
                self._data.popitem(last=False)

    def clear(self) -> None:
        with self._lock:
            self._data.clear()

    def drop_where(self, stale) -> None:
        """Remove every entry whose key satisfies ``stale(key)``; like
        ``clear``, it keeps the counters."""
        with self._lock:
            for key in [k for k in self._data if stale(k)]:
                del self._data[key]

    def __len__(self) -> int:
        return len(self._data)

    def __reduce__(self):
        return type(self), (self.capacity,)


class SingleFlight:
    """Coalesce identical in-flight work: the first caller for a key
    becomes the leader; followers block on its completion event and are
    handed the leader's published result. A leader that fails publishes
    ``None`` and its followers fall back to doing the work themselves, so
    coalescing can delay but never wrong a result."""

    class _Flight:
        __slots__ = ("event", "result", "started")

        def __init__(self):
            self.event = threading.Event()
            self.result = None
            self.started = time.monotonic()

    def __init__(self, wait_timeout: float = 300.0):
        self._lock = threading.Lock()
        self._inflight: dict = {}
        self.wait_timeout = wait_timeout

    def begin(self, key):
        """(True, None) — caller is the leader and MUST call done(); or
        (False, result) after the leader finishes — result is what the
        leader published, or None if the caller must do the work itself
        (leader failed / published nothing / wait timed out).

        A flight older than ``wait_timeout`` is presumed dead (leader
        thread killed between begin() and its try/finally, or wedged) and
        its leadership is reclaimed by the caller — without this, one lost
        leader would make every future identical caller block the full
        timeout forever, since only done() evicts the key. Reclaiming also
        RELEASES the dead flight's blocked followers immediately: the old
        flight's result is set to None and its event fired while the lock
        is held, so they fall back to doing the work now instead of each
        stalling the full ``wait_timeout``. The usurped leader's eventual
        done() pops the NEW flight only."""
        with self._lock:
            fl = self._inflight.get(key)
            if fl is None or (time.monotonic() - fl.started) > self.wait_timeout:
                if fl is not None:
                    fl.result = None
                    fl.event.set()
                self._inflight[key] = self._Flight()
                return True, None
        if not fl.event.wait(self.wait_timeout):
            return False, None
        return False, fl.result

    def done(self, key, result) -> None:
        with self._lock:
            fl = self._inflight.pop(key, None)
        if fl is not None:
            fl.result = result
            fl.event.set()


_cloudpickle.register_pickle_by_value(sys.modules[__name__])
