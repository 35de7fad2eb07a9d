"""Plan, template and member caches follow the registry generation.

A ``register`` or ``refresh_files`` starts a new generation. The next
``PlanBuilder.dataframe`` call drops every older plan and join template, so
they stop pinning old file listings and the lazy checkpoints rca and growth
keep in their plans. The logic layer's member caches are rebuilt for the new
generation, so ``latest`` follows the data.
"""

from __future__ import annotations

import gc
import time

import pytest

import tesseract_spark as ts
from tesseract_spark import PlanBuilder, Query
from tesseract_spark.logic.layer import LogicLayer

GEO = "Customer Geography.Geography"
RCA = {
    "drilldowns": [f"{GEO}.Region", "Return Flag.Return Flag"],
    "measures": ["Quantity"],
    "rca": f"{GEO}.Region,Return Flag.Return Flag,Quantity",
    "cuts": ["Ship Date.Ship Date.Year.1997"],
}
GROWTH = {
    "drilldowns": ["Ship Date.Ship Date.Year", f"{GEO}.Region"],
    "measures": ["Row Count"],
    "growth": "Ship Date.Ship Date.Year,Row Count",
}
PLAIN = {"drilldowns": ["Part.Brand"], "measures": ["Quantity"]}


@pytest.fixture
def own_builder(spark, sf_dir):
    return PlanBuilder(spark, ts.testdata_schema(), ts.testdata_registry(spark, sf_dir))


def _generations(builder) -> set[int]:
    return {
        key[0]
        for cache in (builder._plan_cache, builder._template_cache)
        for key in cache._data
    }


def _persisted(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs()}


def test_new_generation_drops_older_plans_and_templates(own_builder):
    b = own_builder
    reg = b.registry
    for params in (RCA, GROWTH):
        b.dataframe("lineitem_sales", Query.from_params(params))
    old = reg.generation
    assert _generations(b) == {old}
    hits, misses = b.template_cache_hits, b.template_cache_misses

    reg.refresh_files()
    b.dataframe("lineitem_sales", Query.from_params(PLAIN))
    assert _generations(b) == {reg.generation} and reg.generation != old
    assert len(b._plan_cache) == 1
    # the counters stay cumulative across the sweep
    assert misses > 0 and b.template_cache_misses > misses
    assert b.template_cache_hits >= hits


def test_plan_built_across_a_bump_is_returned_but_not_cached(own_builder):
    b = own_builder
    reg = b.registry
    build = b._build_dataframe

    def build_then_refresh(cube_name, query):
        df = build(cube_name, query)
        reg.refresh_files()
        return df

    b._build_dataframe = build_then_refresh
    q = Query.from_params(PLAIN)
    df = b.dataframe("lineitem_sales", q)
    assert df is not None and len(b._plan_cache) == 0
    del b._build_dataframe
    again = b.dataframe("lineitem_sales", q)
    assert again is not df
    assert b.dataframe("lineitem_sales", q) is again
    assert _generations(b) == {reg.generation}


def test_dropped_plans_release_their_checkpoints(spark, own_builder):
    """rca and growth keep lazy ``localCheckpoint`` RDDs in their plans.
    Once the builder drops the stale plans and nothing else holds them, a
    GC (Python, then JVM) lets Spark release every pre-bump checkpoint.

    Spark tracks persisted RDDs in a weak-valued map. The polling asks
    that map ``contains(id)`` rather than calling ``getPersistentRDDs()``,
    whose result is a strong copy: a py4j proxy of it pins every RDD it
    lists until Python collects the proxy."""
    b = own_builder
    before = _persisted(spark)
    frames = [b.dataframe("lineitem_sales", Query.from_params(p)) for p in (RCA, GROWTH)]
    pinned = _persisted(spark) - before
    assert pinned, "rca and growth plans must pin their checkpoints"
    b.registry.refresh_files()
    b.dataframe("lineitem_sales", Query.from_params(PLAIN))
    del frames
    tracked = spark.sparkContext._jsc.sc().persistentRdds()

    def alive():
        return {rdd for rdd in pinned if tracked.contains(rdd)}

    deadline = time.monotonic() + 60
    while alive() and time.monotonic() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
    assert not alive()


def test_latest_follows_a_reregistered_fact(spark, sf_dir):
    reg = ts.testdata_registry(spark, sf_dir)
    layer = LogicLayer(PlanBuilder(spark, ts.testdata_schema(), reg))
    params = {
        "cube": "lineitem_sales",
        "drilldowns": "Year",
        "measures": "Quantity",
        "time": "year.latest",
    }

    def years():
        return {r["Year"] for r in layer.data(dict(params)).collect()}

    latest = years()
    assert len(latest) == 1 and min(latest) > 1995
    fact = reg.load("lineitem_enriched")
    reg.register(
        "lineitem_enriched", fact.filter("l_shipyear <= 1995"), broadcastable=False
    )
    assert years() == {1995}
