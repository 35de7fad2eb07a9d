"""Aggregate navigation (plans/aggnav.py): materialized pass-1 rollups
serving coarser queries bit-identically, with partition pruning, ancestor
serving, and conservative fallback.

The reference has no agg-table story (every query re-scans the fact table
through ClickHouse); this is the engine's 100 TB dashboard path, so the
tests pin BOTH values (bit-equality with the fact-table plan for exact-mode
measures) and plan shape (no fact scan, PartitionFilters on partition cuts).
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F  # noqa: F401 (parity with sibling tests)

from tesseract_spark.plans.aggnav import AggregateNavigator
from tesseract_spark.query.model import Query

GRAIN_DRILLS = [
    "Ship Date.Ship Date.Year",
    "Part.Brand",
    "Customer Geography.Geography.Nation",
]
GRAIN_MEASURES = [
    "Quantity",
    "Extended Price Exact",
    "Row Count",
    "Avg Discount",
    "Max Tax",
    "Min Tax",
    "Weighted Price Exact",
    "Tax MOE Exact",
]
# bit-exact across re-aggregation: decimal sums (exact_scale), integer-valued
# double sums (< 2^53: order-independent), counts, min/max, decimal MOE subs
EXACT_MEASURES = [
    "Quantity",
    "Extended Price Exact",
    "Row Count",
    "Max Tax",
    "Min Tax",
    "Weighted Price Exact",
    "Tax MOE Exact",
]


@pytest.fixture(scope="module")
def nav(builder, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("aggnav") / "grain_ybn")
    n = AggregateNavigator(builder)
    n.materialize(
        "lineitem_sales",
        GRAIN_DRILLS,
        GRAIN_MEASURES,
        path,
        partition_by="Ship Date.Ship Date.Year",
    )
    yield n
    shutil.rmtree(path, ignore_errors=True)


def _q(**params):
    return Query.from_params(params)


def test_served_bit_equals_direct(nav, builder):
    q = _q(drilldowns=["Ship Date.Ship Date.Year"], measures=EXACT_MEASURES)
    served = nav.serve("lineitem_sales", q)
    assert served is not None
    assert served.collect() == builder.dataframe("lineitem_sales", q).collect()


def test_served_subgrain_combinations(nav, builder):
    for drills in (
        ["Part.Brand"],
        ["Ship Date.Ship Date.Year", "Customer Geography.Geography.Nation"],
        GRAIN_DRILLS,  # identity grain
    ):
        q = _q(drilldowns=drills, measures=["Quantity", "Extended Price Exact"])
        served = nav.serve("lineitem_sales", q)
        assert served is not None, drills
        assert (
            served.collect() == builder.dataframe("lineitem_sales", q).collect()
        ), drills


def test_nonexact_measure_served_within_ulps(nav, builder):
    """Plain-double sums (no exact_scale) re-aggregate to the same value up
    to ulp-level non-associativity — the documented caveat."""
    q = _q(drilldowns=["Ship Date.Ship Date.Year"], measures=["Avg Discount"])
    served = nav.serve("lineitem_sales", q)
    assert served is not None
    got = {r["Year"]: r["Avg Discount"] for r in served.collect()}
    want = {
        r["Year"]: r["Avg Discount"]
        for r in builder.dataframe("lineitem_sales", q).collect()
    }
    assert got.keys() == want.keys()
    for y in want:
        assert got[y] == pytest.approx(want[y], rel=1e-12)


def test_ancestor_serving_from_parents(nav, builder):
    """parents=True materialization stores ancestor columns, so the Region
    grain (ancestor of the Nation drill) is served with no hierarchy walk."""
    q = _q(
        drilldowns=["Customer Geography.Geography.Region"],
        measures=["Quantity"],
    )
    served = nav.serve("lineitem_sales", q)
    assert served is not None
    assert served.collect() == builder.dataframe("lineitem_sales", q).collect()


def test_cut_sort_limit_and_top_served(nav, builder):
    q = _q(
        drilldowns=["Part.Brand"],
        measures=["Extended Price Exact"],
        cuts=["Ship Date.Ship Date.Year.1996,1997"],
        sort="Extended Price Exact.desc",
        limit="5",
    )
    served = nav.serve("lineitem_sales", q)
    assert served is not None
    assert served.collect() == builder.dataframe("lineitem_sales", q).collect()

    q_top = _q(
        drilldowns=["Customer Geography.Geography.Region", "Part.Brand"],
        measures=["Quantity"],
        top="2,Customer Geography.Geography.Region,Quantity,desc",
    )
    served = nav.serve("lineitem_sales", q_top)
    assert served is not None
    assert served.collect() == builder.dataframe("lineitem_sales", q_top).collect()


def test_served_plan_never_touches_fact(nav):
    q = _q(
        drilldowns=["Ship Date.Ship Date.Year"],
        measures=["Quantity"],
        cuts=["Ship Date.Ship Date.Year.1997"],
    )
    served = nav.serve("lineitem_sales", q)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan  # rollup only — the whole point
    # the Year cut prunes partition directories, not rows
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "c0" in pf and "1997" in pf


def test_fallbacks(nav):
    # non-decomposable aggregator
    assert (
        nav.serve(
            "lineitem_sales",
            _q(
                drilldowns=["Ship Date.Ship Date.Year"],
                measures=["Median Qty By Order"],
            ),
        )
        is None
    )
    # finer-than-grain drilldown
    assert (
        nav.serve(
            "lineitem_sales",
            _q(drilldowns=["Ship Date.Ship Date.Month"], measures=["Quantity"]),
        )
        is None
    )
    # cut on a level outside the grain
    assert (
        nav.serve(
            "lineitem_sales",
            _q(
                drilldowns=["Part.Brand"],
                measures=["Quantity"],
                cuts=["Line Status.Line Status.Status.O"],
            ),
        )
        is None
    )
    # calculations recompute from the fact path
    assert (
        nav.serve(
            "lineitem_sales",
            _q(
                drilldowns=["Ship Date.Ship Date.Year"],
                measures=["Quantity"],
                growth="Ship Date.Ship Date.Year,Quantity",
            ),
        )
        is None
    )
    # measure not materialized
    assert (
        nav.serve(
            "lineitem_sales",
            _q(drilldowns=["Ship Date.Ship Date.Year"], measures=["Extended Price"]),
        )
        is None
    )


def test_dataframe_routes_and_falls_back(nav, builder):
    q_roll = _q(drilldowns=["Ship Date.Ship Date.Year"], measures=["Quantity"])
    routed = nav.dataframe("lineitem_sales", q_roll)
    assert "lineitem" not in routed._jdf.queryExecution().executedPlan().toString()

    q_fact = _q(
        drilldowns=["Ship Date.Ship Date.Month"], measures=["Quantity"]
    )
    fell_back = nav.dataframe("lineitem_sales", q_fact)
    assert (
        fell_back.collect()
        == builder.dataframe("lineitem_sales", q_fact).collect()
    )


def test_load_grain_fresh_navigator(nav, builder, spark):
    path = nav.grains[0].path
    nav2 = AggregateNavigator(builder)
    g = nav2.load_grain(spark, path)
    assert g.cube == "lineitem_sales" and g.partition_by == ["Year"]
    q = _q(drilldowns=["Part.Brand"], measures=["Quantity", "Row Count"])
    assert (
        nav2.serve("lineitem_sales", q).collect()
        == builder.dataframe("lineitem_sales", q).collect()
    )


def test_load_grain_pre_sketch_meta_gets_defaults(nav, builder, spark, tmp_path):
    """A meta written before the sketch tier (no sketch_measures/sketch_p
    columns) still loads, with the dataclass defaults, and serves."""
    src = nav.grains[0]
    old = str(tmp_path / "pre_sketch")
    shutil.copytree(f"{src.path}/partials", f"{old}/partials")
    spark.read.parquet(f"{src.path}/meta").drop("sketch_measures", "sketch_p").write.parquet(
        f"{old}/meta"
    )
    nav2 = AggregateNavigator(builder)
    g = nav2.load_grain(spark, old)
    assert g.sketch_measures == [] and g.sketch_p == 0
    assert (g.cube, g.drilldowns, g.measures, g.columns, g.dtypes) == (
        src.cube, src.drilldowns, src.measures, src.columns, src.dtypes
    )
    assert (g.partition_by, g.implicit_sig, g.parents, g.n_rows) == (
        src.partition_by, src.implicit_sig, src.parents, src.n_rows
    )
    q = _q(drilldowns=["Part.Brand"], measures=["Quantity", "Row Count"])
    assert sorted(nav2.serve("lineitem_sales", q).collect()) == sorted(
        builder.dataframe("lineitem_sales", q).collect()
    )


def test_logic_layer_routes_through_navigator(nav, builder):
    from tesseract_spark.logic.layer import LogicLayer

    layer = LogicLayer(builder, navigator=nav)
    df = layer.data(
        {
            "cube": "lineitem_sales",
            "drilldowns": "Brand",
            "measures": "Quantity",
        }
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan  # served from the rollup
    direct = LogicLayer(builder).data(
        {"cube": "lineitem_sales", "drilldowns": "Brand", "measures": "Quantity"}
    )
    assert df.collect() == direct.collect()


def test_server_serves_from_navigator(nav, builder):
    import json
    import threading
    import urllib.request

    from tesseract_spark.server.app import make_server

    srv = make_server(builder, port=0, navigator=nav)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        url = (
            f"{base}/cubes/lineitem_sales/aggregate.jsonrecords"
            "?drilldowns=Ship+Date.Ship+Date.Year&measures=Quantity"
        )
        with urllib.request.urlopen(url, timeout=120) as r:
            rows = json.loads(r.read())["data"]
        q = _q(drilldowns=["Ship Date.Ship Date.Year"], measures=["Quantity"])
        want = [
            {"Year": r["Year"], "Quantity": r["Quantity"]}
            for r in builder.dataframe("lineitem_sales", q).collect()
        ]
        assert rows == want
    finally:
        srv.shutdown()


def test_refresh_merges_increment_bit_exactly(builder, spark, tmp_path):
    """Materialize over a historical slice, refresh with the remainder —
    served results must be bit-identical to a full-fact materialization,
    and only the touched partition directories may be rewritten."""
    import os

    from pyspark.sql import functions as F

    path = str(tmp_path / "grain_incr")
    fact = builder.registry.load("lineitem_enriched")
    hist = fact.filter(F.year("l_shipdate") < 1997)
    incr = fact.filter(F.year("l_shipdate") >= 1997)

    nav = AggregateNavigator(builder)
    # historical build: swap the registry binding, restore after
    builder.registry.register("lineitem_enriched", hist, broadcastable=False)
    try:
        g = nav.materialize(
            "lineitem_sales",
            ["Ship Date.Ship Date.Year", "Part.Brand"],
            EXACT_MEASURES,
            path,
            partition_by="Ship Date.Ship Date.Year",
        )
    finally:
        builder.registry.register("lineitem_enriched", fact, broadcastable=False)

    # snapshot pre-refresh file set of an untouched partition (1995)
    pdir = f"{path}/partials"
    untouched = sorted(
        f for f in os.listdir(f"{pdir}/c0=1995") if f.endswith(".parquet")
    )

    affected = nav.refresh(g, incr)
    assert set(affected) >= {1997, 1998}
    assert 1995 not in affected and 1996 not in affected
    assert (
        sorted(
            f for f in os.listdir(f"{pdir}/c0=1995") if f.endswith(".parquet")
        )
        == untouched
    ), "untouched partition rewritten"

    # served == direct full-fact for every sub-grain, bit-exact
    for drills in (["Ship Date.Ship Date.Year"], ["Part.Brand"]):
        q = _q(drilldowns=drills, measures=EXACT_MEASURES)
        served = nav.serve("lineitem_sales", q)
        assert served is not None
        assert (
            served.collect() == builder.dataframe("lineitem_sales", q).collect()
        ), drills


def test_refresh_merges_weighted_and_moe_partials(builder, tmp_path):
    """The weighted-sum, weighted-average, plain MOE and both replicate MOE
    partials (and flat averages) survive a refresh merge: served values
    match the fact path, by every drill of the grain. These measures sum
    plain doubles, so they agree to rounding, not bit for bit."""
    from pyspark.sql import functions as F

    measures = [
        "Weighted Price Sum",
        "Discount RW MOE",
        "Price WAvg MOE",
        "Tax MOE",
        "Weighted Price",
        "Avg Discount",
    ]
    fact = builder.registry.load("lineitem_enriched")
    nav = AggregateNavigator(builder)
    builder.registry.register(
        "lineitem_enriched", fact.filter(F.year("l_shipdate") < 1997), broadcastable=False
    )
    try:
        g = nav.materialize(
            "lineitem_sales",
            ["Ship Date.Ship Date.Year", "Part.Brand"],
            measures,
            str(tmp_path / "grain_moe"),
            partition_by="Ship Date.Ship Date.Year",
        )
    finally:
        builder.registry.register("lineitem_enriched", fact, broadcastable=False)
    assert set(nav.refresh(g, fact.filter(F.year("l_shipdate") >= 1997))) >= {1997}

    for drill, key in (("Ship Date.Ship Date.Year", "Year"), ("Part.Brand", "Brand")):
        q = _q(drilldowns=[drill], measures=measures)
        served = nav.serve("lineitem_sales", q)
        assert served is not None, drill
        got = {r[key]: r for r in served.collect()}
        want = {r[key]: r for r in builder.dataframe("lineitem_sales", q).collect()}
        assert got.keys() == want.keys(), drill
        for k, row in want.items():
            for m in measures:
                assert got[k][m] == pytest.approx(row[m], rel=1e-9), (drill, k, m)


def test_refresh_empty_increment_noop(builder, spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "grain_noop")
    nav = AggregateNavigator(builder)
    g = nav.materialize(
        "lineitem_sales",
        ["Ship Date.Ship Date.Year"],
        ["Quantity"],
        path,
    )
    fact = builder.registry.load("lineitem_enriched")
    assert nav.refresh(g, fact.filter(F.lit(False))) == []
    q = _q(drilldowns=["Ship Date.Ship Date.Year"], measures=["Quantity"])
    assert (
        nav.serve("lineitem_sales", q).collect()
        == builder.dataframe("lineitem_sales", q).collect()
    )


def test_match_prefers_smallest_covering_grain(nav, builder, tmp_path):
    """With a coarse (Year) rollup registered alongside the wide module
    grain, a Year query must route to the smaller rollup."""
    path = str(tmp_path / "grain_year_only")
    nav2 = AggregateNavigator(builder)
    nav2.grains = list(nav.grains)  # wide grain first
    small = nav2.materialize(
        "lineitem_sales", ["Ship Date.Ship Date.Year"], ["Quantity"], path
    )
    assert small.n_rows < nav.grains[0].n_rows
    q = _q(drilldowns=["Ship Date.Ship Date.Year"], measures=["Quantity"])
    assert nav2.match("lineitem_sales", q) is small
    # queries the small grain can't cover still route to the wide one
    q_wide = _q(drilldowns=["Part.Brand"], measures=["Quantity"])
    assert nav2.match("lineitem_sales", q_wide) is nav.grains[0]


def test_streaming_grain_refresh_matches_full_fact(builder, spark, tmp_path):
    """Stream fact increments through grain_refresh_stream — the rollup must
    end bit-identical to a full-fact materialization, and a replayed batch
    (simulated by re-running the drained stream) must NOT double-count."""
    from pyspark.sql import functions as F

    from tesseract_spark.streaming.ingest import grain_refresh_stream

    path = str(tmp_path / "grain_stream")
    fact = builder.registry.load("lineitem_enriched")
    hist = fact.filter(F.year("l_shipdate") < 1997)
    incr = fact.filter(F.year("l_shipdate") >= 1997)

    nav = AggregateNavigator(builder)
    builder.registry.register("lineitem_enriched", hist, broadcastable=False)
    try:
        g = nav.materialize(
            "lineitem_sales",
            ["Ship Date.Ship Date.Year"],
            ["Quantity", "Extended Price Exact"],
            path,
        )
    finally:
        builder.registry.register("lineitem_enriched", fact, broadcastable=False)

    src = tmp_path / "fact_arrivals"
    incr.coalesce(2).write.parquet(str(src))
    ckpt = str(tmp_path / "ckpt")
    grain_refresh_stream(nav, g, str(src), ckpt, incr.schema)

    q = _q(
        drilldowns=["Ship Date.Ship Date.Year"],
        measures=["Quantity", "Extended Price Exact"],
    )
    want = builder.dataframe("lineitem_sales", q).collect()
    assert nav.serve("lineitem_sales", q).collect() == want

    # drained re-run: same checkpoint, no new files -> no batches; a fresh
    # checkpoint replays the same FILES and the file-level ledger skips them
    grain_refresh_stream(nav, g, str(src), ckpt, incr.schema)
    grain_refresh_stream(nav, g, str(src), str(tmp_path / "ckpt2"), incr.schema)
    assert nav.serve("lineitem_sales", q).collect() == want


from hypothesis import HealthCheck, example, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_SERVE_DRILLS = [
    "Ship Date.Ship Date.Year",
    "Part.Brand",
    "Customer Geography.Geography.Nation",
    "Customer Geography.Geography.Region",  # ancestor via parents=True
]


@st.composite
def _subgrain_query(draw):
    drills = draw(
        st.lists(
            st.sampled_from(_SERVE_DRILLS), min_size=1, max_size=3, unique=True
        )
    )
    # Region + Nation together is fine (Region is Nation's stored ancestor)
    measures = draw(
        st.lists(
            st.sampled_from(EXACT_MEASURES), min_size=1, max_size=4, unique=True
        )
    )
    params: dict = {"drilldowns": drills, "measures": measures}
    if draw(st.booleans()):
        years = draw(
            st.lists(
                st.sampled_from(["1995", "1996", "1997", "1998"]),
                min_size=1,
                max_size=2,
                unique=True,
            )
        )
        params["cuts"] = [f"Ship Date.Ship Date.Year.{','.join(years)}"]
    return params


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(params=_subgrain_query())
# a LIKE cut on a named level tests the rollup's stored name column
@example(
    params={
        "drilldowns": ["Customer Geography.Geography.Nation"],
        "measures": ["Quantity"],
        "cuts": ["*Customer Geography.Geography.Nation._1"],
    }
)
def test_property_served_equals_fact_path(nav, builder, params):
    """Any sub-grain drill/measure/cut combination the grain covers must be
    served bit-identically to the fact-table plan."""
    q = Query.from_params(params)
    served = nav.serve("lineitem_sales", q)
    assert served is not None, params
    assert (
        served.collect() == builder.dataframe("lineitem_sales", q).collect()
    ), params


# ---------------- approximate-distinct sketch tier ----------------


@pytest.fixture(scope="module")
def sketch_nav(builder, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("aggnav_hll") / "grain_sketch")
    n = AggregateNavigator(builder)
    n.materialize(
        "lineitem_sales",
        ["Ship Date.Ship Date.Year", "Part.Brand"],
        ["Quantity", "Approx Distinct Parts"],
        path,
        partition_by="Ship Date.Ship Date.Year",
        sketch_p=10,
    )
    yield n, path
    shutil.rmtree(path, ignore_errors=True)


def test_sketch_served_equals_direct_sketch_estimate(sketch_nav, builder, sf_dir):
    """The load-bearing invariant: rollup-served registers merged to a
    coarser grain are BIT-IDENTICAL to registers computed directly on the
    fact at that grain (max associativity), so the served estimate equals
    the direct sketch estimate exactly — and lands within the rsd class of
    the exact distinct count."""
    from tesseract_spark.operators.sketch import (
        hll_estimate_grouped,
        hll_grouped_registers,
    )

    nav, _ = sketch_nav
    q = _q(
        drilldowns=["Ship Date.Ship Date.Year"],
        measures=["Quantity", "Approx Distinct Parts"],
    )
    served = nav.serve("lineitem_sales", q)
    assert served is not None
    got = {r["Year"]: r["Approx Distinct Parts"] for r in served.collect()}

    # direct sketch on the fact at the served grain (independent path)
    cube = builder.schema.cube("lineitem_sales")
    fact = builder.registry.load(cube.table)
    direct_regs = hll_grouped_registers(
        fact.withColumn("Year", F.col("l_shipyear")), ["Year"], "l_partkey", 10
    )
    direct = {
        r["Year"]: r["approx_distinct"]
        for r in hll_estimate_grouped(direct_regs, ["Year"], 10).collect()
    }
    assert got == direct
    exact = {
        r["Year"]: r["n"]
        for r in fact.groupBy(F.col("l_shipyear").alias("Year"))
        .agg(F.count_distinct("l_partkey").alias("n"))
        .collect()
    }
    for y, est in got.items():
        assert abs(est - exact[y]) <= max(10, 0.15 * exact[y]), (y, est, exact[y])


def test_sketch_serving_reads_rollup_not_fact(sketch_nav):
    nav, path = sketch_nav
    q = _q(
        drilldowns=["Part.Brand"], measures=["Approx Distinct Parts"]
    )
    served = nav.serve("lineitem_sales", q)
    assert served is not None
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "lineitem.parquet" not in plan and "hll_0" in plan
    assert len(served.collect()) == 25


def test_sketch_refresh_matches_full_rebuild(builder, tmp_path, sf_dir):
    """Appending an increment and refreshing merges registers by max —
    serving after refresh equals a full-fact rebuild exactly."""
    from pyspark.sql import functions as F

    fact = builder.registry.load(builder.schema.cube("lineitem_sales").table)
    base = fact.filter(F.col("l_shipyear") <= 1995)
    inc = fact.filter(F.col("l_shipyear") > 1995)

    fact_table = builder.schema.cube("lineitem_sales").table

    class _Reg:
        def __init__(self, inner, df):
            self._inner, self._df = inner, df

        def load(self, t):
            # override only the FACT table; dims load normally
            name = getattr(t, "name", t)
            if name == getattr(fact_table, "name", fact_table):
                return self._df
            return self._inner.load(t)

        def is_broadcastable(self, name):
            return self._inner.is_broadcastable(name)

        def __getattr__(self, a):
            return getattr(self._inner, a)

    import copy

    b_base = copy.copy(builder)
    b_base.registry = _Reg(builder.registry, base)

    nav = AggregateNavigator(b_base)
    g = nav.materialize(
        "lineitem_sales",
        ["Ship Date.Ship Date.Year", "Part.Brand"],
        ["Quantity", "Approx Distinct Parts"],
        str(tmp_path / "g_refresh"),
        partition_by="Ship Date.Ship Date.Year",
        sketch_p=10,
    )
    affected = nav.refresh(g, inc)
    assert affected  # the increment's years were rewritten

    nav_full = AggregateNavigator(builder)
    nav_full.materialize(
        "lineitem_sales",
        ["Ship Date.Ship Date.Year", "Part.Brand"],
        ["Quantity", "Approx Distinct Parts"],
        str(tmp_path / "g_full"),
        partition_by="Ship Date.Ship Date.Year",
        sketch_p=10,
    )
    q = _q(
        drilldowns=["Ship Date.Ship Date.Year"],
        measures=["Quantity", "Approx Distinct Parts"],
    )
    # serve with the REAL builder on both (refresh used the full fact union)
    nav.builder = builder
    got = sorted(tuple(r) for r in nav.serve("lineitem_sales", q).collect())
    want = sorted(tuple(r) for r in nav_full.serve("lineitem_sales", q).collect())
    assert got == want and len(got) > 0


def test_sketch_load_grain_cross_process(sketch_nav, builder):
    """A sketch grain re-registers from disk with its sketch metadata."""
    nav, path = sketch_nav
    fresh = AggregateNavigator(builder)
    g = fresh.load_grain(builder.spark, path)
    assert g.sketch_measures == ["Approx Distinct Parts"] and g.sketch_p == 10
    q = _q(
        drilldowns=["Ship Date.Ship Date.Year"],
        measures=["Approx Distinct Parts"],
    )
    got = {tuple(r) for r in fresh.serve("lineitem_sales", q).collect()}
    want = {tuple(r) for r in nav.serve("lineitem_sales", q).collect()}
    assert got == want


def test_sketchless_grain_still_falls_back_for_approx(nav, builder):
    """Without materialized sketches an approx-distinct query falls through
    to the fact path exactly as before."""
    q = _q(
        drilldowns=["Ship Date.Ship Date.Year"],
        measures=["Approx Distinct Parts"],
    )
    assert nav.serve("lineitem_sales", q) is None
    assert nav.dataframe("lineitem_sales", q).count() > 0


def test_sketch_all_approx_no_drill_cut_only(sketch_nav, builder):
    """Degenerate serve shape: an all-sketch query with no drilldowns (cut
    only) produces the single-row estimate — equal to a direct fact-side
    sketch over the cut slice."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.sketch import (
        hll_estimate_grouped,
        hll_grouped_registers,
    )

    nav, _ = sketch_nav
    q = _q(
        measures=["Approx Distinct Parts"],
        cuts=["Ship Date.Ship Date.Year.1995"],
    )
    served = nav.serve("lineitem_sales", q)
    assert served is not None
    rows = served.collect()
    assert len(rows) == 1
    fact = builder.registry.load(
        builder.schema.cube("lineitem_sales").table
    ).filter("l_shipyear = 1995")
    direct = hll_estimate_grouped(
        hll_grouped_registers(
            fact.withColumn("g", F.lit(1)), ["g"], "l_partkey", 10
        ),
        ["g"],
        10,
    ).collect()[0]["approx_distinct"]
    assert rows[0]["Approx Distinct Parts"] == direct


def test_sketch_grain_streaming_refresh(builder, tmp_path):
    """grain_refresh_stream over a SKETCH grain: streamed fact arrivals
    merge registers through the exactly-once ledger path, and the served
    estimate equals a full-fact rebuild (same register-swap pattern as the
    exact-grain streaming test above)."""
    from pyspark.sql import functions as F

    from tesseract_spark.streaming.ingest import grain_refresh_stream

    fact = builder.registry.load("lineitem_enriched")
    hist = fact.filter(F.year("l_shipdate") < 1997)
    incr = fact.filter(F.year("l_shipdate") >= 1997)

    nav = AggregateNavigator(builder)
    builder.registry.register("lineitem_enriched", hist, broadcastable=False)
    try:
        g = nav.materialize(
            "lineitem_sales",
            ["Ship Date.Ship Date.Year", "Part.Brand"],
            ["Quantity", "Approx Distinct Parts"],
            str(tmp_path / "g_stream"),
            partition_by="Ship Date.Ship Date.Year",
            sketch_p=10,
        )
    finally:
        builder.registry.register("lineitem_enriched", fact, broadcastable=False)

    src = tmp_path / "fact_arrivals"
    incr.coalesce(2).write.parquet(str(src))
    grain_refresh_stream(
        nav, g, str(src), str(tmp_path / "ckpt"), incr.schema,
        query_name="t_sketch_gr",
    )

    nav_full = AggregateNavigator(builder)
    nav_full.materialize(
        "lineitem_sales",
        ["Ship Date.Ship Date.Year", "Part.Brand"],
        ["Quantity", "Approx Distinct Parts"],
        str(tmp_path / "g_full2"),
        partition_by="Ship Date.Ship Date.Year",
        sketch_p=10,
    )
    q = _q(
        drilldowns=["Ship Date.Ship Date.Year"],
        measures=["Quantity", "Approx Distinct Parts"],
    )
    got = sorted(tuple(r) for r in nav.serve("lineitem_sales", q).collect())
    want = sorted(
        tuple(r) for r in nav_full.serve("lineitem_sales", q).collect()
    )
    assert got == want and len(got) > 0


def test_refresh_catalog_entry_restores_registry_binding(spark, sf_dir):
    """q_aggnav_refresh swaps the shared memoized builder's fact binding to a
    historical slice during its build. The swap MUST be invisible afterwards
    — the builders are memoized per (session, sf), so a leaked slice would
    silently corrupt every later entry in the same process (the driver runs
    all 50 window entries through one session)."""
    from tesseract_spark import catalog

    b = catalog.get_builder(spark, sf_dir)
    full_rows = b.registry.load("lineitem_enriched").count()
    was_broadcastable = b.registry.is_broadcastable("lineitem_enriched")
    catalog.ENTRIES["q_aggnav_refresh"].spark_fn(spark, sf_dir).collect()
    assert b.registry.load("lineitem_enriched").count() == full_rows
    # the broadcastable flag must round-trip too (ADVICE r9: the old
    # hardcoded-False restore leaked the fact into _no_broadcast)
    assert b.registry.is_broadcastable("lineitem_enriched") == was_broadcastable
    # and an aggregate entry run AFTER it still sees every ship year
    years = {
        r["Year"]
        for r in catalog.ENTRIES["q_agg_year"].spark_fn(spark, sf_dir).collect()
    }
    assert {1997, 1998} <= years, "post-1997 fact rows missing after refresh entry"


def test_binned_quantile_measure_serves_from_rollup_bit_exactly(
    builder, spark, tmp_path
):
    """The BinnedQuantile cube aggregator's array partials must serve from
    an aggnav rollup — including after an incremental refresh — BIT-equal
    to the direct fact path (the decomposability contract that makes it
    the rollup-tier quantile)."""
    from pyspark.sql import functions as F

    q = _q(
        drilldowns=["Return Flag.Return Flag"],
        measures=["P90 Price Binned", "Quantity"],
    )
    direct = {
        r["Return Flag"]: (r["P90 Price Binned"], r["Quantity"])
        for r in builder.dataframe("lineitem_sales", q).collect()
    }

    nav = AggregateNavigator(builder)
    nav.materialize(
        "lineitem_sales",
        ["Ship Date.Ship Date.Year", "Return Flag.Return Flag"],
        ["Quantity", "P90 Price Binned"],
        str(tmp_path / "bq_grain"),
        partition_by="Ship Date.Ship Date.Year",
    )
    served = nav.serve("lineitem_sales", q)
    assert served is not None
    got = {
        r["Return Flag"]: (r["P90 Price Binned"], r["Quantity"])
        for r in served.collect()
    }
    assert got == direct

    # refresh parity: build on a historical slice, fold in the remainder
    fact = builder.registry.load("lineitem_enriched")
    hist = fact.filter(F.year("l_shipdate") < 1997)
    incr = fact.filter(F.year("l_shipdate") >= 1997)
    nav2 = AggregateNavigator(builder)
    builder.registry.register("lineitem_enriched", hist, broadcastable=False)
    try:
        g2 = nav2.materialize(
            "lineitem_sales",
            ["Ship Date.Ship Date.Year", "Return Flag.Return Flag"],
            ["Quantity", "P90 Price Binned"],
            str(tmp_path / "bq_grain2"),
            partition_by="Ship Date.Ship Date.Year",
        )
    finally:
        builder.registry.register("lineitem_enriched", fact, broadcastable=False)
    nav2.refresh(g2, incr)
    served2 = nav2.serve("lineitem_sales", q)
    got2 = {
        r["Return Flag"]: (r["P90 Price Binned"], r["Quantity"])
        for r in served2.collect()
    }
    assert got2 == direct


def test_streaming_grain_refresh_carries_binned_quantile(builder, spark, tmp_path):
    """The BinnedQuantile measure's array partials must survive the
    STREAMING refresh path too: stream the post-1996 fact arrivals into a
    historical grain, and the rollup-served P90 estimate must equal the
    direct full-fact cube answer bit-for-bit (counts add, bounds widen —
    the same merge the batch refresh test pins, now through
    grain_refresh_stream's exactly-once file ledger)."""
    from pyspark.sql import functions as F

    from tesseract_spark.streaming.ingest import grain_refresh_stream

    path = str(tmp_path / "grain_stream_bq")
    fact = builder.registry.load("lineitem_enriched")
    hist = fact.filter(F.year("l_shipdate") < 1997)
    incr = fact.filter(F.year("l_shipdate") >= 1997)

    nav = AggregateNavigator(builder)
    builder.registry.register("lineitem_enriched", hist, broadcastable=False)
    try:
        g = nav.materialize(
            "lineitem_sales",
            ["Ship Date.Ship Date.Year", "Return Flag.Return Flag"],
            ["Quantity", "P90 Price Binned"],
            path,
            partition_by="Ship Date.Ship Date.Year",
        )
    finally:
        builder.registry.register("lineitem_enriched", fact, broadcastable=False)

    src = tmp_path / "bq_fact_arrivals"
    incr.coalesce(2).write.parquet(str(src))
    grain_refresh_stream(nav, g, str(src), str(tmp_path / "bq_ckpt"), incr.schema)

    q = _q(
        drilldowns=["Return Flag.Return Flag"],
        measures=["Quantity", "P90 Price Binned"],
    )
    want = sorted(tuple(r) for r in builder.dataframe("lineitem_sales", q).collect())
    got = sorted(tuple(r) for r in nav.serve("lineitem_sales", q).collect())
    assert got == want and len(got) == 3


def test_aggnav_build_serve_split_reports_all_phases(spark, sf_dir):
    """bench.py's aggnav split (VERDICT r10 #1): the helper must time all
    four phases and serving must be the cheap one — a serve that costs as
    much as the build means the rollup store was not actually reused."""
    from tesseract_spark.catalog import aggnav_build_serve_split

    split = aggnav_build_serve_split(spark, sf_dir)
    assert set(split) == {
        "build_sec",
        "serve_sec",
        "refresh_sec",
        "refresh_serve_sec",
    }
    assert all(v > 0 for v in split.values())
    assert split["serve_sec"] < split["build_sec"]
