"""memo.Lru and memo.SingleFlight: the one bounded LRU and the one
single-flight every engine cache goes through (server response cache,
plan builder plan/template caches, JPEG Huffman tables)."""

from __future__ import annotations

import pickle
import sys
import threading
import time

import pytest

from tesseract_spark.memo import Lru, SingleFlight


def test_lru_order_and_eviction():
    c = Lru(2)
    c.put("a", 1)
    c.put("b", 2)
    assert c.get("a") == 1  # "a" is now the most recently used
    c.put("c", 3)  # evicts "b", the least recently used
    assert len(c) == 2
    assert c.get("b") is None
    assert (c.get("a"), c.get("c")) == (1, 3)
    c.put("a", 10)  # re-put refreshes recency and value
    c.put("d", 4)  # evicts "c"
    assert c.get("c") is None
    assert (c.get("a"), c.get("d")) == (10, 4)
    c.clear()
    assert len(c) == 0 and c.get("a") is None


def test_lru_get_default():
    c = Lru(4)
    sentinel = object()
    assert c.get("missing", sentinel) is sentinel
    c.put("k", None)  # a stored None is still a hit
    assert c.get("k", sentinel) is None


def test_lru_hit_miss_counters():
    c = Lru(1)
    c.get("x")
    c.put("x", 1)
    c.get("x")
    c.get("x")
    c.put("y", 2)  # evicts "x"
    c.get("x")
    assert (c.hits, c.misses) == (2, 2)
    c.clear()  # counters are cumulative: callers take deltas across a clear
    assert (c.hits, c.misses) == (2, 2)


@pytest.mark.parametrize("pickler", ["pickle", "pyspark.cloudpickle", "cloudpickle"])
def test_lru_pickles_as_empty_cache(pickler):
    dumps = pytest.importorskip(pickler).dumps
    c = Lru(3)
    c.put("k", threading.Lock())  # an unpicklable value must not matter
    c.get("k")
    back = pickle.loads(dumps(c))
    assert back.capacity == 3 and len(back) == 0
    assert (back.hits, back.misses) == (0, 0)
    back.put("a", 1)  # the rebuilt cache works (fresh lock)
    assert back.get("a") == 1


@pytest.mark.parametrize("factory", ["lru", "response_cache"])
def test_lru_concurrent_get_put_at_capacity_one(factory):
    """8 threads hammer get/put on one shared key while each thread's own
    key keeps evicting it (capacity 1). An unlocked check-then-move_to_end
    raises KeyError when an eviction lands between the two steps — the
    server turned that into a 400 on a cache lookup."""
    if factory == "lru":
        c = Lru(1)
    else:
        from tesseract_spark.server.app import _ResponseCache

        c = _ResponseCache(capacity=1)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave threads as finely as possible
    errors: list[BaseException] = []

    def worker(i: int) -> None:
        try:
            for n in range(5000):
                c.put("shared", ("text/csv", b"x"))
                c.get("shared")
                c.put(f"own-{i}-{n % 2}", ("text/csv", b"y"))
        except Exception as e:  # noqa: BLE001 — collected for the assert
            errors.append(e)

    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert len(c) <= 1


def test_single_flight_failed_leader_releases_followers():
    sf = SingleFlight(wait_timeout=5.0)
    assert sf.begin("k") == (True, None)
    got = []
    th = threading.Thread(target=lambda: got.append(sf.begin("k")))
    th.start()
    time.sleep(0.05)
    sf.done("k", None)  # the leader failed: nothing to share
    th.join(timeout=5)
    assert got == [(False, None)]
    assert sf.begin("k") == (True, None)  # the key is free again
    sf.done("k", None)


def test_builder_follower_outlives_wedged_leader(builder):
    """A plan build whose leader never finishes must not hang its
    followers: once the flight's wait_timeout passes, a follower builds
    the plan itself."""
    import types

    from tesseract_spark import PlanBuilder
    from tesseract_spark.query.model import Query

    b = PlanBuilder(builder.spark, builder.schema, builder.registry)
    b._plan_flight = SingleFlight(wait_timeout=0.5)
    release = threading.Event()
    calls: list[int] = []
    orig = b._build_dataframe

    def build(self, cube_name, query):
        calls.append(1)
        if len(calls) == 1:
            release.wait(120)  # the wedged leader
        return orig(cube_name, query)

    b._build_dataframe = types.MethodType(build, b)
    q = Query.from_params(
        {"drilldowns": ["Part.Brand"], "measures": ["Quantity"]}
    )
    leader = threading.Thread(
        target=b.dataframe, args=("lineitem_sales", q), daemon=True
    )
    leader.start()
    try:
        deadline = time.monotonic() + 30
        while not calls and time.monotonic() < deadline:
            time.sleep(0.01)
        assert calls, "leader never started its build"
        got = []
        follower = threading.Thread(
            target=lambda: got.append(b.dataframe("lineitem_sales", q)),
            daemon=True,
        )
        follower.start()
        follower.join(timeout=60)
        assert got, "follower hung behind a wedged plan-build leader"
        assert "Brand" in got[0].columns
    finally:
        release.set()
        leader.join(timeout=120)
