"""Computed dimension views are snapshotted once per registry generation.

``TableRegistry.dim`` serves a callable-registered view (``order_geo``, the
Customer Geography snowflake) as a lazily cached frame; fact reads, parquet
and DataFrame-registered dimensions stay plain scans. ``refresh_files()``
and re-registering a name drop the snapshots they make stale, and a
snapshot answers exactly what the view itself answers.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

import tesseract_spark as ts
from tesseract_spark import PlanBuilder, Query
from tesseract_spark.logic.layer import LogicLayer
from tesseract_spark.sources.registry import TableRegistry

from .conftest import SF_DIR

GEO = "Customer Geography.Geography"
ORDER_GEO_COLS = {"o_orderkey", "n_nationkey", "n_name", "r_regionkey", "r_name"}
REGION_CUT = {
    "drilldowns": [f"{GEO}.Nation"],
    "measures": ["Quantity"],
    "cuts": [f"{GEO}.Region.1"],
}


def _cached_plan(df) -> str:
    return df._jdf.queryExecution().withCachedData().toString()


def _cached_relations(df) -> list[set[str]]:
    """Column names of every InMemoryRelation the plan reads."""
    return [
        {re.sub(r"#\d+L?$", "", a.strip()) for a in cols.split(",")}
        for cols in re.findall(r"InMemoryRelation \[([^\]]*)\]", _cached_plan(df))
    ]


def _persisted(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs()}


def _snapshot_rdd(reg) -> int:
    """Id of the RDD that holds the registry's order_geo snapshot (Spark
    fills it on the first scan)."""
    rel = reg._snapshots["order_geo"]._jdf.queryExecution().withCachedData()
    assert rel.nodeName() == "InMemoryRelation"
    return rel.cacheBuilder().cachedColumnBuffers().id()


@pytest.fixture
def own_builder(spark, sf_dir):
    """A builder over its own registry, so refreshes and re-registrations
    stay local to the test."""
    return PlanBuilder(spark, ts.testdata_schema(), ts.testdata_registry(spark, sf_dir))


def test_region_cut_reads_snapshot_and_nothing_else_is_cached(builder):
    """A Region cut reads order_geo through an InMemoryRelation; Part is a
    parquet dimension and lineitem_enriched a computed FACT view, so
    order_geo is the only cached relation any plan reads."""
    q = Query.from_params(
        {
            "drilldowns": ["Part.Brand", f"{GEO}.Nation"],
            "measures": ["Quantity"],
            "cuts": [f"{GEO}.Region.1", "Part.Part.Brand.Brand#11"],
        }
    )
    df = builder.dataframe("lineitem_sales", q)
    relations = _cached_relations(df)
    assert ORDER_GEO_COLS in relations
    assert all(r == ORDER_GEO_COLS for r in relations), relations
    df.collect()
    plain = builder.dataframe(
        "lineitem_sales",
        Query.from_params({"drilldowns": ["Part.Brand"], "measures": ["Quantity"]}),
    )
    assert "InMemoryRelation" not in _cached_plan(plain)
    assert set(builder.registry._snapshots) == {"order_geo"}


def test_refresh_files_unpersists_and_rebuilds_snapshot(spark, own_builder):
    reg = own_builder.registry
    q = Query.from_params(REGION_CUT)
    before = own_builder.dataframe("lineitem_sales", q).collect()
    old = reg._snapshots["order_geo"]
    rdd = _snapshot_rdd(reg)
    assert rdd in _persisted(spark), "the first scan must fill the snapshot"

    reg.refresh_files()
    assert rdd not in _persisted(spark)
    assert "order_geo" not in reg._snapshots

    df = own_builder.dataframe("lineitem_sales", q)
    assert ORDER_GEO_COLS in _cached_relations(df)
    assert df.collect() == before
    assert reg._snapshots["order_geo"] is not old
    assert _snapshot_rdd(reg) in _persisted(spark)


def test_reregistering_drops_snapshot(spark, own_builder):
    reg = own_builder.registry
    own_builder.dataframe("lineitem_sales", Query.from_params(REGION_CUT)).collect()
    rdd = _snapshot_rdd(reg)
    assert rdd in _persisted(spark)
    definition = reg._views["order_geo"]

    reg.register("order_geo", definition, broadcastable=False)
    assert "order_geo" not in reg._snapshots
    assert rdd not in _persisted(spark)
    # still a computed view: the next dimension read snapshots it again
    assert reg.dim("order_geo").is_cached


def _rewritable_table(spark, tmp_path):
    """A registry over ``tmp_path`` with a parquet table ``t`` and a computed
    view ``view`` over the same file, plus a function that rewrites the
    file with every ``v`` set to its argument."""
    path = str(tmp_path / "t.parquet")

    def write(v):
        spark.range(0, 10).withColumn("v", F.lit(v)).write.mode(
            "overwrite"
        ).parquet(path)

    write(1)
    reg = TableRegistry(spark, str(tmp_path))
    reg.register("view", lambda s: s.read.parquet(path).select("id", "v"))
    return reg, write


def _total(df):
    return df.agg(F.sum("v")).collect()[0][0]


def test_refresh_files_rebuilds_computed_views(spark, tmp_path):
    """A dataset rewritten on disk plus refresh_files(): parquet tables AND
    callable views read the new files (a view built once used to keep its
    first file listing and fail on the deleted files)."""
    reg, write = _rewritable_table(spark, tmp_path)
    assert _total(reg.load("t")) == 10
    assert _total(reg.load("view")) == 10

    write(2)
    reg.refresh_files()
    assert _total(reg.load("t")) == 20
    assert _total(reg.load("view")) == 20


def test_refresh_files_rebuilds_view_snapshot(spark, tmp_path):
    reg, write = _rewritable_table(spark, tmp_path)
    assert reg.dim("view").is_cached and not reg.dim("t").is_cached
    assert _total(reg.dim("view")) == 10

    write(2)
    reg.refresh_files()
    assert _total(reg.dim("view")) == 20


def test_concurrent_dim_and_refresh_leave_no_stale_cache(spark, tmp_path):
    """Threads racing dim() against refresh_files(): whatever interleaving
    happens, once a last refresh lands no frame dim() ever served is still
    in Spark's cache (a snapshot that lost a race must be unpersisted).
    Each build gets its own literal, so no two generations share a cache
    entry and one unpersist cannot hide another's leak."""
    import itertools
    import sys
    from concurrent.futures import ThreadPoolExecutor

    spark.range(0, 10).withColumn("v", F.lit(1)).write.parquet(str(tmp_path / "t"))
    reg = TableRegistry(spark, str(tmp_path))
    builds, counter = [], itertools.count()

    def view(s):
        df = s.read.parquet(str(tmp_path / "t")).withColumn("b", F.lit(next(counter)))
        builds.append(df)
        return df

    reg.register("view", view)

    served = []

    def work(i):
        for j in range(12):
            if (i + j) % 5 == 0:
                reg.refresh_files()
            else:
                served.append(reg.dim("view"))

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            for fut in [pool.submit(work, i) for i in range(8)]:
                fut.result(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    reg.refresh_files()
    assert not reg._snapshots
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert len(builds) > 1 and served
    assert all(df.columns == ["id", "v", "b"] for df in served)
    assert all(cache.lookupCachedData(df._jdf).isEmpty() for df in served)


#: the sf0.01 dataset next to the suite's own
SF = os.path.join(os.path.dirname(SF_DIR), "sf0.01")

#: one query per dash-cold request shape that reaches Customer Geography
GEO_SHAPES = {
    "plain": {
        "drilldowns": [f"{GEO}.Region"],
        "measures": ["Quantity", "Row Count"],
        "cuts": ["Ship Date.Ship Date.Year.1996"],
    },
    "multicut": {
        "drilldowns": [f"{GEO}.Nation"],
        "measures": ["Quantity"],
        "cuts": [f"{GEO}.Region.2", "Part.Part.Brand.Brand#13",
                 "Return Flag.Return Flag.R"],
    },
    "growth": {
        "drilldowns": ["Ship Date.Ship Date.Year", f"{GEO}.Region"],
        "measures": ["Row Count"],
        "growth": "Ship Date.Ship Date.Year,Row Count",
        "cuts": [f"{GEO}.Nation.7"],
    },
    "rca": {
        "drilldowns": [f"{GEO}.Region", "Return Flag.Return Flag"],
        "measures": ["Quantity"],
        "rca": f"{GEO}.Region,Return Flag.Return Flag,Quantity",
        "cuts": ["Ship Date.Ship Date.Year.1997", "Part.Part.Brand.Brand#22"],
    },
    "rate": {
        "drilldowns": ["Return Flag.Return Flag"],
        "measures": ["Row Count"],
        "rate": f"{GEO}.Region.3",
        "cuts": ["Ship Date.Ship Date.Year.1995", f"{GEO}.Nation.8"],
    },
    "top": {
        "drilldowns": [f"{GEO}.Region", "Part.Part.Brand"],
        "measures": ["Extended Price Exact"],
        "top": "3,Part.Part.Brand,Extended Price Exact,desc",
        "cuts": ["Ship Date.Ship Date.Year.1998", "Return Flag.Return Flag.N"],
    },
    "filters": {
        "drilldowns": [f"{GEO}.Nation"],
        "measures": ["Quantity"],
        "filters": "Quantity.gt.2000",
        "cuts": ["Ship Date.Ship Date.Year.1996", "Return Flag.Return Flag.A"],
    },
}
DATA_TIME = {
    "cube": "lineitem_sales",
    "drilldowns": "Region",
    "measures": "Quantity,Max Tax",
    "time": "year.latest",
    "Brand": "Brand#21",
}


def _shape_frames(builder):
    frames = {
        name: builder.dataframe("lineitem_sales", Query.from_params(params))
        for name, params in GEO_SHAPES.items()
    }
    frames["data_time"] = LogicLayer(builder).data(dict(DATA_TIME))
    return frames


def test_snapshot_answers_equal_the_plain_view(spark):
    """Every geography shape, over the snapshotting testdata registry and
    over one where order_geo is a registered DataFrame (never snapshotted),
    returns the same rows in the same order at sf0.01."""
    snap_reg = ts.testdata_registry(spark, SF)
    snap = PlanBuilder(spark, ts.testdata_schema(), snap_reg)
    got = {}
    for name, df in _shape_frames(snap).items():
        # rca checkpoints its inputs while it builds, so its plan reads
        # LogicalRDDs; rate drills no geography level, and cuts read the
        # view's own plan
        if name not in ("rca", "rate"):
            assert ORDER_GEO_COLS in _cached_relations(df), name
        got[name] = df.collect()
    assert _snapshot_rdd(snap_reg) in _persisted(spark)

    plain_reg = ts.testdata_registry(spark, SF)
    plain_reg.register("order_geo", plain_reg.load("order_geo"), broadcastable=False)
    plain = PlanBuilder(spark, ts.testdata_schema(), plain_reg)
    for name, df in _shape_frames(plain).items():
        assert "InMemoryRelation" not in _cached_plan(df), name
        rows = df.collect()
        assert rows, name
        assert rows == got[name], name
    assert not plain_reg._snapshots
