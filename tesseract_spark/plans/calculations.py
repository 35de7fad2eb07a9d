"""Post-aggregation calculations: Growth, RCA, Rate.

The reference implements these as ClickHouse ``groupArray``/``ARRAY JOIN``
pivot-unpivot SQL (tesseract-clickhouse/src/sql/{growth,rca,rate}.rs). Window
functions are the idiomatic Spark equivalent — no pivot, no self-join, one extra
(windowing) shuffle at most, and at scale the window partitions by the same keys
the aggregate just grouped by, so AQE typically reuses the exchange.

Semantics parity notes:

- Growth (growth.rs:98-130): Δ = mᵢ − lag(mᵢ); growth = Δ/(m−Δ) — NULL first
  period. ClickHouse emits ±inf/NaN on division by zero (the ``Δ/0`` ternary
  branch, growth.rs:104) and this engine reproduces that BY DEFAULT
  (``growth_div0=inf``) so a reference deployment ports value-identically;
  ``growth_div0=null`` opts into Spark/DuckDB division-by-zero semantics
  (NULL) where downstream tooling can't ingest non-finite doubles.
- RCA (rca.rs:50-283): rca = (a/b)/(c/d) with a = mea at (ext, d1, d2),
  b = (ext, d2), c = (ext, d1), d = (ext). Cut rules (rca.rs:86-123): cuts on
  d1 levels apply to a/c only; cuts on d2 levels are dropped; external cuts
  apply everywhere. Implemented as ONE aggregate at (ext, d1, d2) grain +
  partition-sum windows, computing b/d before the d1-cut filter and c after —
  replacing the reference's 2-scan + groupArray-pivot + join plan
  (1 scan, 0 joins).
- Rate (rate.rs:16-94): extra drill on the rate level, then per original-drill
  group: total = Σ m (or count if the measure aggregator is count), kept-member
  share = Σ m over members ∈ values; Rate = share/total. Single sum/count
  measure only (lib.rs:677-706).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..query.model import Cut, LevelName, Query
from ..schema.aggregator import Count
from ..schema.model import Cube

if TYPE_CHECKING:
    from .builder import DrillSpec, PlanBuilder


def _spec_aliases(builder: "PlanBuilder", specs: list["DrillSpec"], ln: LevelName) -> list[str]:
    """Output aliases belonging to the drill spec that matches a LevelName."""
    from .builder import level_key_alias, level_name_alias

    for spec in specs:
        if spec.ref.dim.name == ln.dimension and spec.ref.level.name == ln.level:
            out = []
            for lv in spec.levels:
                out.append(level_key_alias(lv))
                if lv.name_column:
                    out.append(level_name_alias(lv))
            return out
    raise ValueError(f"drill for {ln} not found in plan specs")


#: finest-time-level name → periods per parent-year cycle. Only grains whose
#: period count is calendar-constant are joinable arithmetically; weeks
#: (52/53 per year) are not, and day-of-year shifts across leap years.
_CALENDAR_CYCLES = {"month": 12, "quarter": 4}


def _calendar_period_index(
    builder: "PlanBuilder", specs: list["DrillSpec"], ln: LevelName, offset: int
):
    """Calendar period index expression from the time drill's KEY columns:
    a single key level is its own index (year grain, or a sub-year index
    joined within its partition keys — the lone-Month-drill shape where
    Year is a separate drill); a (year, sub) chain maps to
    ``year*cycle + sub`` for calendar-constant cycles. Arithmetic — not
    data-dependent — so a period missing from the data still has the right
    index distance to every other period. A lone sub-year key whose cycle
    the offset reaches (Month with offset ≥ 12) can NEVER find a partner —
    that query would be silently all-NULL, so it raises instead (review
    r12 #4): YoY needs the year parent in the chain (parents=true)."""
    from .builder import QueryValidationError, level_key_alias

    for spec in specs:
        if spec.ref.dim.name == ln.dimension and spec.ref.level.name == ln.level:
            keys = [(level_key_alias(lv), lv.name) for lv in spec.levels]
            if len(keys) == 1:
                cycle = _CALENDAR_CYCLES.get(keys[0][1].lower())
                if cycle is not None and offset >= cycle:
                    raise QueryValidationError(
                        f"growth_calendar offset {offset} at lone "
                        f"{keys[0][1]!r} grain (cycle {cycle}) can never "
                        "find a calendar partner — drill the year parent "
                        "(parents=true) for same-period-last-year"
                    )
                return F.col(keys[0][0]).cast("long")
            if len(keys) == 2:
                fine = keys[1][1].lower()
                cycle = _CALENDAR_CYCLES.get(fine)
                if cycle is None:
                    raise QueryValidationError(
                        f"growth_calendar: no calendar-constant cycle for "
                        f"time grain {keys[1][1]!r} (supported: "
                        f"{sorted(_CALENDAR_CYCLES)}, or a single-level "
                        f"year grain)"
                    )
                return (
                    F.col(keys[0][0]).cast("long") * cycle
                    + F.col(keys[1][0]).cast("long")
                )
            raise QueryValidationError(
                "growth_calendar supports 1- or 2-level time drill chains "
                f"(got {len(keys)} levels)"
            )
    raise ValueError(f"drill for {ln} not found in plan specs")


def apply_growth(
    builder: "PlanBuilder",
    cube: Cube,
    query: Query,
    specs: list["DrillSpec"],
    df: DataFrame,
) -> DataFrame:
    growth = query.growth
    time_aliases = _spec_aliases(builder, specs, growth.time_drill)
    all_aliases = builder._group_aliases(specs)
    part_aliases = [a for a in all_aliases if a not in time_aliases]

    mea = F.col(growth.mea)
    n = growth.offset
    time_cols = [F.col(a) for a in time_aliases]
    if growth.calendar:
        # Calendar-lag (growth_calendar=true): the comparison row is the one
        # at period index − N, found by an equi-JOIN on (group keys, index)
        # — never a row-lag, so gapped series align to the true calendar
        # period (missing prior period → NULL). Both join sides are the
        # aggregate output: the shuffle is on the small post-agg relation
        # (AQE broadcasts it below threshold), and there is no window at
        # all, partitioned or otherwise.
        idx = _calendar_period_index(builder, specs, growth.time_drill, n)
        # both join legs are the SAME aggregate output — left lazy, the
        # base aggregation ran once per leg (guide §2.4; r16). Bounded by
        # the post-agg group count.
        df = df.localCheckpoint(eager=False)
        pv_parts = [
            F.col(a).alias(f"__pv_{i}") for i, a in enumerate(part_aliases)
        ]
        pv = df.select(
            *pv_parts, (idx + F.lit(n)).alias("__pv_idx"), mea.alias("__prev_cal")
        )
        cond = [
            F.col(a).eqNullSafe(F.col(f"__pv_{i}"))
            for i, a in enumerate(part_aliases)
        ] + [F.col("__cidx") == F.col("__pv_idx")]
        df = (
            df.withColumn("__cidx", idx)
            .join(pv, cond, "left")
            .drop("__cidx", "__pv_idx", *[f"__pv_{i}" for i in range(len(part_aliases))])
        )
        prev = F.col("__prev_cal")
    elif part_aliases:
        w = Window.partitionBy(*[F.col(a) for a in part_aliases]).orderBy(
            *[c.asc() for c in time_cols]
        )
        prev = F.lag(mea, n).over(w)
    else:
        # Global lag N (time is the only drill): a plain window would funnel
        # every row through ONE task. Distributed form instead: range-
        # partition by time (earlier periods land in earlier partitions) and
        # lag WITHIN each partition in parallel; the first N rows of each
        # partition then need the previous partitions' trailing N values,
        # carried as an array: per-partition trailing-N (time, mea)
        # structs (bounded: #partitions × N rows), each partition's carry =
        # last N of the time-sorted flatten of ALL earlier partitions'
        # tails (the pid<pid' join sidesteps empty range partitions), and
        # row #rn (rn ≤ N) reads carry[rn − N − 1] — its lag-N element
        # counted from the end. try_element_at: fewer than N−rn+1
        # predecessors exist globally → NULL, the correct first-periods
        # answer.
        df = df.repartitionByRange(*time_cols).withColumn(
            "__pid", F.spark_partition_id()
        )
        w_in = Window.partitionBy("__pid").orderBy(*[c.asc() for c in time_cols])
        df = df.withColumn("__prev_in", F.lag(mea, n).over(w_in)).withColumn(
            "__rn", F.row_number().over(w_in)
        )
        # the lagged grain feeds the tails aggregate (twice, via its
        # cur/lo self-join) and the final carry join — materialize once
        # (guide §2.4; r16): bounded by the post-agg group count
        df = df.localCheckpoint(eager=False)
        tails = (
            df.groupBy("__pid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(*time_cols, mea.alias("__m")))
                ).alias("__all")
            )
            .select(
                "__pid",
                F.slice(
                    F.col("__all"),
                    F.greatest(F.lit(1), F.size("__all") - F.lit(n - 1)),
                    F.lit(n),
                ).alias("__tail"),
            )
        )
        carry = (
            tails.alias("cur")
            .join(
                F.broadcast(tails.alias("lo")),
                F.col("lo.__pid") < F.col("cur.__pid"),
            )
            .groupBy(F.col("cur.__pid").alias("__pid"))
            .agg(
                F.array_sort(F.flatten(F.collect_list(F.col("lo.__tail")))).alias(
                    "__prevs"
                )
            )
            .select(
                "__pid",
                F.slice(
                    F.col("__prevs"),
                    F.greatest(
                        F.lit(1), F.size("__prevs") - F.lit(n - 1)
                    ),
                    F.lit(n),
                ).alias("__carry_arr"),
            )
        )
        df = df.join(F.broadcast(carry), "__pid", "left")
        prev = F.when(
            F.col("__rn") > n, F.col("__prev_in")
        ).otherwise(
            F.try_element_at(
                F.col("__carry_arr"), F.col("__rn") - F.lit(n + 1)
            ).getField("__m")
        )

    growth_value = mea - prev
    # growth.rs:104 — `(m−Δ)>0 ? Δ/(m−Δ) : Δ/0`. Default (growth_div0=inf)
    # reproduces ClickHouse Float64 semantics on the Δ/0 branch without
    # dividing (ANSI-mode safe): +Δ→+inf, −Δ→−inf, 0→NaN, NULL first period
    # stays NULL. growth_div0=null opts into NULL for all three (module doc).
    if growth.div0 == "inf":
        div0_branch = (
            F.when(growth_value > 0, F.lit(float("inf")))
            .when(growth_value < 0, F.lit(float("-inf")))
            .when(growth_value == 0, F.lit(float("nan")))
        )
    else:
        div0_branch = growth_value / F.lit(0.0)
    growth_col = F.when(prev > 0, growth_value / prev).otherwise(div0_branch)
    out = df.withColumn(f"{growth.mea} Growth Value", growth_value).withColumn(
        f"{growth.mea} Growth", growth_col
    )
    if growth.calendar:
        out = out.drop("__prev_cal")
    elif not part_aliases:
        out = out.drop("__pid", "__prev_in", "__rn", "__carry_arr")
    return out


def _split_rca_cuts(
    builder: "PlanBuilder", cube: Cube, query: Query
) -> tuple[list[Cut], list[Cut], list[Cut]]:
    """(external, d1, dropped-d2) cut partition per rca.rs:103-123."""
    rca = query.rca

    def owner(ln: LevelName) -> tuple[str, str]:
        ref = builder.resolve_level(cube, ln)
        return (ref.dim.name, ref.hier.name)

    d1_owner = owner(rca.drill_1)
    d2_owner = owner(rca.drill_2)
    ext, d1_cuts, dropped = [], [], []
    for cut in query.cuts:
        o = owner(cut.level_name)
        if o == d1_owner:
            d1_cuts.append(cut)
        elif o == d2_owner:
            dropped.append(cut)  # reference blacklists d2 cuts from all four parts
        else:
            ext.append(cut)
    return ext, d1_cuts, dropped


def apply_rca(
    builder: "PlanBuilder",
    cube: Cube,
    query: Query,
    specs: list["DrillSpec"],
    df: DataFrame,
) -> DataFrame:
    """Expects ``df`` aggregated at (ext drills, d1, d2) grain WITHOUT d1/d2 cuts
    applied (builder routes cuts accordingly)."""
    rca = query.rca
    d1_aliases = _spec_aliases(builder, specs, rca.drill_1)
    d2_aliases = _spec_aliases(builder, specs, rca.drill_2)
    all_aliases = builder._group_aliases(specs)
    ext_aliases = [a for a in all_aliases if a not in d1_aliases and a not in d2_aliases]

    mea = F.col(rca.mea)
    df = df.withColumn("a", mea)
    # the (ext, d1, d2)-grain aggregate feeds b/c/d AND the final joins —
    # left lazy, the whole fact scan + dim joins + groupBy re-ran once per
    # consumer (the r16-open q_rca_region_flag plan evaluated the 5-table
    # join+aggregate FOUR times: 40 parquet scans). Materialize the grain
    # once (guide §2.4; r16): bounded by the group count, the same rows the
    # b/c/d aggregates shuffle anyway.
    df = df.localCheckpoint(eager=False)
    base_cols = [c for c in df.columns if c != "a"]

    # b/c/d as grouped aggregates + joins rather than partition-sum windows:
    # a window partitioned by only (ext) funnels the WHOLE (ext, d1, d2) grain
    # of one ext value through a single task — exactly RCA's high-cardinality
    # case. Grouped sums aggregate map-side to tiny results (one row per
    # group), which Catalyst/AQE then broadcast back onto the grain — no
    # single-task stage at any cardinality. The re-sums are over the same
    # values the windows summed, so results are identical (and the catalog's
    # RCA entries use integer-valued doubles — order-exact sums — so oracle
    # hashes are unaffected).
    def _totals(src: DataFrame, keys: list[str], alias: str) -> DataFrame:
        return src.groupBy(*[F.col(k) for k in keys]).agg(F.sum("a").alias(alias))

    b_tab = _totals(df, ext_aliases + d2_aliases, "b")
    d_tab = _totals(df, ext_aliases, "d")  # no ext: grand total, 1-row scalar

    # d1 cuts apply to a/c only — filter AFTER b/d are fixed (rca.rs:86-123)
    _, d1_cuts, _ = _split_rca_cuts(builder, cube, query)
    for cut in d1_cuts:
        df = df.filter(builder.alias_cut(cube, cut))

    c_tab = _totals(df, ext_aliases + d1_aliases, "c")
    # no forced broadcast hints on b/c/d: their sizes are data-dependent
    # (#groups at each grain) and AQE picks broadcast-hash at runtime when the
    # aggregate output is small — which it is in every non-pathological case.
    # The grand-total scalar IS always 1 row, so that one is hinted.
    df = df.join(b_tab, ext_aliases + d2_aliases)
    df = df.join(c_tab, ext_aliases + d1_aliases)
    if ext_aliases:
        df = df.join(d_tab, ext_aliases)
    else:
        df = df.crossJoin(F.broadcast(d_tab))
    df = df.select(*base_cols, "a", "b", "c", "d")
    df = df.withColumn(f"{rca.mea} RCA", (F.col("a") / F.col("b")) / (F.col("c") / F.col("d")))
    if not query.debug:
        df = df.drop("a", "b", "c", "d")
    return df


def apply_rate(
    builder: "PlanBuilder",
    cube: Cube,
    query: Query,
    specs: list["DrillSpec"],
    df: DataFrame,
) -> DataFrame:
    """Expects ``df`` aggregated at (orig drills + rate level) grain — the builder
    adds the rate level as a hidden drill."""
    rate = query.rate
    measure = cube.measure(query.measures[0])
    agg_fn = F.count if isinstance(measure.aggregator, Count) else F.sum

    rate_aliases = _spec_aliases(builder, specs, rate.level_name)
    all_aliases = builder._group_aliases(specs)
    orig_aliases = [a for a in all_aliases if a not in rate_aliases]

    w = Window.partitionBy(*[F.col(a) for a in orig_aliases])
    mea = F.col(measure.name)
    df = df.withColumn("__total", agg_fn(mea).over(w))
    df = df.filter(builder.alias_cut(cube, Cut(rate.level_name, rate.values)))
    out = (
        df.groupBy(*[F.col(a) for a in orig_aliases])
        .agg(
            agg_fn(mea).alias("__share"),
            F.max("__total").alias("__total_g"),
        )
        .withColumn("Rate", F.col("__share") / F.col("__total_g"))
        .withColumnRenamed("__total_g", measure.name)
        .drop("__share")
    )
    return out
