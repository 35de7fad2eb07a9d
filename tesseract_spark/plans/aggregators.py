"""Aggregator → Spark Column expressions: the one place that says how each
aggregator decomposes.

The reference compiles every aggregator into a two-phase SQL form (pass-1 at
foreign-key grain before dim joins, pass-2 at drill grain after joins —
tesseract-clickhouse/src/sql/aggregator.rs:28-223). :func:`_decompose` holds
that form once per aggregator: its pass-1 partials (a column suffix plus an
aggregate expression), each partial's merge, the final fold, and whether a
rollup may re-merge it. Everything else derives from that entry:

- ``single_pass_agg`` folds the pass-1 expressions directly. All kinds except
  ``avg`` under ``avg_grain="fk"`` and ``basic_grouped_median`` merge by
  sum/min/max, so one Spark aggregate gives identical results while
  Catalyst's partial→final HashAggregate does the two-phase work physically
  (SURVEY.md §4). That is the default plan: with broadcast dim joins it needs
  exactly one shuffle.
- When a query contains a two-phase-only kind, the builder switches to an
  explicit two-phase plan and uses ``pass1_cols``/``pass2_col`` for *all*
  measures in the query — mirroring the reference's plan shape
  (primary_agg.rs:93-121, 215-231).
- Aggregate navigation (``aggnav``) stores the pass-1 partials as a rollup,
  gates on ``decomposable`` and re-merges increments with ``merge_cols``, so
  the rollup's on-disk partial layout is the ``{measure}{suffix}`` columns
  declared here.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..schema.aggregator import (
    ApproxDistinctCount,
    Average,
    BasicGroupedMedian,
    BinnedQuantile,
    Count,
    Custom,
    DistinctCount,
    Max,
    Min,
    Moe,
    ReplicateWeightMoe,
    Sum,
    WeightedAverage,
    WeightedAverageMoe,
    WeightedSum,
)
from ..schema.model import Measure


def _moe_sum_sq(col: Column, cv: float, scale: int | None = None) -> Column:
    # Square via multiplication, not pow(x, 2): *,/ are IEEE-deterministic
    # cross-engine, pow is a libm call whose last ulp varies by build.
    if scale is None:
        ratio = col / F.lit(cv)
        return F.sum(ratio * ratio)
    # Exact mode: cast the RAW column to decimal, not the computed square.
    # Rounding a computed double (arbitrary digits) to decimal lands near
    # scale boundaries where engines/versions disagree on the last digit
    # (Spark goes through the shortest string repr, DuckDB scales the exact
    # binary value); raw data values are "nice" decimals that sit far from
    # any boundary, so the cast is identical everywhere. The /cv² fold moves
    # after aggregation (_moe_fold) where it is a single IEEE double divide.
    dec = col.cast(f"decimal(18,{_raw_scale(scale)})")
    return F.sum(dec * dec)


def _raw_scale(scale: int) -> int:
    # squared terms carry 2× the raw cast's scale, so honor the measure's
    # declared exact_scale by casting the raw column at scale/2 (clamped so
    # decimal(18,s)² stays inside 38 digits of precision in both engines)
    return max(1, min(scale // 2, 9))


def _moe_fold(sub: Column, cv: float, scale: int | None) -> Column:
    """cv * sqrt(sum((col/cv)²)) from the aggregated sum-of-squares."""
    if scale is None:
        return F.lit(cv) * F.sqrt(sub)
    # sub is Σ col² in exact decimal; ÷cv² restores Σ (col/cv)² — both the
    # decimal→double cast (unscaled value < 2^53 at these magnitudes) and the
    # divide/sqrt/multiply are deterministic IEEE double ops cross-engine
    return F.lit(cv) * F.sqrt(sub.cast("double") / (F.lit(cv) * F.lit(cv)))


def _sq(expr: Column) -> Column:
    """IEEE-deterministic square (see _moe_sum_sq)."""
    return expr * expr


def _exact_sum(expr: Column, scale: int | None) -> Column:
    """Sum that is order-independent when ``scale`` is set.

    Double addition is non-associative: plan reorderings (semi-join pushdown,
    two-phase pre-agg, AQE) shift results by ulps. Casting each term to
    decimal(38, scale) makes the sum exact decimal arithmetic — associative,
    hence bit-stable across plans AND engines. The per-row double expression
    itself is IEEE-deterministic, so cross-engine parity holds end-to-end."""
    if scale is None:
        return F.sum(expr)
    return F.sum(expr.cast(f"decimal(38,{scale})"))


def _d(out: Column, scale: int | None) -> Column:
    """Fold an exact decimal aggregate back to the measure's double type."""
    return out.cast("double") if scale is not None else out


def _bq_bin(col: Column, agg: BinnedQuantile) -> Column:
    """Bin index = number of boundaries <= value (mirrors
    operators/sketch._bin_col — identical CASE comparisons in the SQL
    oracle). NULL values yield a NULL index, which every conditional
    aggregate below excludes."""
    if not agg.boundaries:
        raise ValueError(
            "BinnedQuantile measure has no boundaries — an auto (n_bins) "
            "measure must be resolved first via "
            "PlanBuilder.resolve_binned_boundaries(cube_name)"
        )
    v = col.cast("double")
    b = F.lit(0)
    for bound in agg.boundaries:
        b = b + F.when(v >= F.lit(float(bound)), 1).otherwise(0)
    return b


def _bq_cells(col: Column, agg: BinnedQuantile) -> tuple[Column, Column, Column]:
    """Per-bin (count, min, max) arrays of AGGREGATE expressions — the
    fixed-size partial state (nb = len(boundaries)+1 cells per group,
    corpus-size independent)."""
    v = col.cast("double")
    b = _bq_bin(col, agg)
    nb = len(agg.boundaries) + 1
    cs = [
        F.sum(F.when(b == j, F.lit(1)).otherwise(F.lit(0)).cast("long"))
        for j in range(nb)
    ]
    mins = [F.min(F.when(b == j, v)) for j in range(nb)]
    maxs = [F.max(F.when(b == j, v)) for j in range(nb)]
    return F.array(*cs), F.array(*mins), F.array(*maxs)


def _bq_estimate(bc: Column, blo: Column, bhi: Column, p: float) -> Column:
    """quantile_cont's rank blend over within-bin interpolated order
    statistics, from the per-bin count / min / max arrays —
    post-aggregation expressions only, the SAME IEEE chain as
    operators/sketch.binned_quantiles and its DuckDB mirror (floor/least/
    CASE/fold arithmetic is identical cross-engine). An all-NULL group has
    n = 0 → no bin matches → NULL, like quantile_cont.

    Shape note: the per-rank bin lookup is a single ``F.aggregate`` fold
    carrying (running start, first match) over zipped (c, lo, hi) structs
    — NOT an unrolled when-chain over per-bin aggregate expressions. The
    unrolled form duplicated every aggregate subtree O(nb²) times; with
    11 bins that cost ~3.5 s of PLAN CONSTRUCTION + ANALYSIS per query
    (measured round 9), a fixed tax no data-side speed fixes. The fold
    references each array-of-aggregates ONCE per lookup and evaluates
    interpreted over nb elements per output row — trivially cheap at any
    group count. Same values bit-for-bit: integer starts accumulate in
    the same order, the interpolation chain is unchanged, and
    first-match-wins coalesce equals the when-chain's ordering."""
    n = F.aggregate(bc, F.lit(0).cast("long"), lambda a, x: a + x)
    h = F.lit(float(p)) * (n - 1).cast("double")
    k = F.floor(h).cast("long")
    k1 = F.least(k + F.lit(1), n - 1)

    def value_at(r: Column) -> Column:
        zipped = F.transform(
            bc,
            lambda c, i: F.struct(
                c.alias("c"),
                F.element_at(blo, i + 1).alias("lo"),
                F.element_at(bhi, i + 1).alias("hi"),
            ),
        )
        acc0 = F.struct(
            F.lit(0).cast("long").alias("start"),
            F.lit(None).cast("double").alias("val"),
        )
        est = lambda acc, s: F.when(  # noqa: E731 — local fold step
            s["c"] > 1,
            s["lo"]
            + (s["hi"] - s["lo"])
            * ((r - acc["start"]).cast("double") / (s["c"] - 1)),
        ).otherwise(s["lo"])
        folded = F.aggregate(
            zipped,
            acc0,
            lambda acc, s: F.struct(
                (acc["start"] + s["c"]).alias("start"),
                F.coalesce(
                    acc["val"],
                    F.when(
                        (acc["start"] <= r) & (r < acc["start"] + s["c"]),
                        est(acc, s),
                    ),
                ).alias("val"),
            ),
        )
        return folded["val"]

    vk, vk1 = value_at(k), value_at(k1)
    return (k + 1 - h) * vk + (h - k) * vk1


@dataclass(frozen=True)
class Partial:
    """One pass-1 partial column, named ``{measure}{suffix}``."""

    suffix: str
    #: builds the pass-1 aggregate over fact rows; on demand, because every
    #: Column is a JVM call and the plan builder classifies measures first
    agg: Callable[[], Column]
    #: how partial rows combine: "sum", "min" or "max" are exact at any
    #: coarser grain; "avg" and "median" are the two-phase-only kinds'
    merge: str
    #: > 0: the partial is an array of ``width`` cells, merged elementwise
    width: int = 0


@dataclass(frozen=True)
class Decomposition:
    partials: tuple[Partial, ...]
    #: the measure's value from its partials, one argument per partial —
    #: over the pass-1 expressions (single pass) or the merged partials
    fold: Callable[..., Column]
    #: a rollup may store the partials and re-merge them at any coarser grain
    rollup: bool = True

    @property
    def two_phase_only(self) -> bool:
        return any(p.merge in ("avg", "median") for p in self.partials)


_MERGES = {"sum": F.sum, "min": F.min, "max": F.max, "avg": F.avg, "median": F.median}


def _same(x: Column) -> Column:
    return x


def _replicate_moe(agg, diffs: list[Column]) -> Column:
    """cv * sqrt(df/n * Σ_i pow(diff_i, 2)) — the fold of both replicate
    MOE kinds, squared via multiplication (see _moe_sum_sq)."""
    factor = agg.design_factor / len(diffs)
    total = _sq(diffs[0])
    for x in diffs[1:]:
        total = total + _sq(x)
    return F.lit(agg.critical_value) * F.sqrt(F.lit(factor) * total)


def _decompose(measure: Measure, avg_grain: str = "flat") -> Decomposition | None:
    """The aggregator's two-phase form: pass 1 at aggregator.rs:28-99, pass 2
    at :157-223. None for the distinct counts, which have no partial form."""
    agg = measure.aggregator
    es = measure.exact_scale

    def col() -> Column:
        return F.col(measure.column)

    def exact(x: Column) -> Column:
        return _d(x, es)

    if isinstance(agg, Sum):
        # exact mode: the partial KEEPS the decimal type so the re-sum is
        # still exact; the fold to double happens only at the end
        return Decomposition((Partial("", lambda: _exact_sum(col(), es), "sum"),), exact)
    if isinstance(agg, Count):
        return Decomposition((Partial("", lambda: F.count(col()), "sum"),), _same)
    if isinstance(agg, (Max, Min)):
        kind = "max" if isinstance(agg, Max) else "min"
        return Decomposition((Partial("", lambda: _MERGES[kind](col()), kind),), _same)
    if isinstance(agg, Average):
        if avg_grain == "fk":
            # the reference's average of fk-grain averages (:34, :163)
            return Decomposition(
                (Partial("", lambda: F.avg(col()), "avg"),), _same, rollup=False
            )
        # (sum, count) so pass 2 yields the true average, not avg-of-avgs
        return Decomposition(
            (
                Partial("__num", lambda: _exact_sum(col(), es), "sum"),
                Partial("__cnt", lambda: F.count(col()), "sum"),
            ),
            lambda num, cnt: exact(num) / cnt,
        )
    if isinstance(agg, BasicGroupedMedian):
        # median over per-group subtotals of a hidden drilldown (:37, :166)
        group_fn = getattr(F, agg.group_aggregator)
        return Decomposition(
            (Partial("", lambda: group_fn(col()), "median"),), _same, rollup=False
        )
    if isinstance(agg, WeightedSum):
        w = agg.weight_column
        return Decomposition(
            (Partial("", lambda: _exact_sum(col() * F.col(w), es), "sum"),), exact
        )
    if isinstance(agg, WeightedAverage):
        w = agg.weight_column
        return Decomposition(
            (
                Partial("__num", lambda: _exact_sum(col() * F.col(w), es), "sum"),
                Partial("__den", lambda: _exact_sum(F.col(w), es), "sum"),
            ),
            lambda num, den: exact(num) / exact(den),
        )
    if isinstance(agg, Moe):
        # cv * sqrt(sum(pow(col / cv, 2))) — aggregator.rs:64-70,193-198
        cv = agg.critical_value
        return Decomposition(
            (Partial("__sub", lambda: _moe_sum_sq(col(), cv, es), "sum"),),
            lambda sub: _moe_fold(sub, cv, es),
        )
    if isinstance(agg, ReplicateWeightMoe):
        # cv * sqrt(df/n_sec * Σ_i pow(sum(col) - sum(sec_i), 2)) — :52-63,177-192
        secs = [
            Partial(f"__s{i}", lambda sec=sec: F.sum(F.col(sec)), "sum")
            for i, sec in enumerate(agg.secondary_columns)
        ]
        return Decomposition(
            (Partial("__p", lambda: F.sum(col()), "sum"), *secs),
            lambda p, *s: _replicate_moe(agg, [p - si for si in s]),
        )
    if isinstance(agg, WeightedAverageMoe):
        # cv * sqrt(df/n * Σ_i pow(wavg(col, primary) - wavg(col, sec_i), 2))
        # — :71-93,199-217; each wavg is a (num, den) pair of sums
        def wavg(num: str, den: str, w: str) -> tuple[Partial, Partial]:
            return (
                Partial(num, lambda: F.sum(col() * F.col(w)), "sum"),
                Partial(den, lambda: F.sum(F.col(w)), "sum"),
            )

        partials = wavg("__pnum", "__pden", agg.primary_weight)
        for i, w in enumerate(agg.secondary_weight_columns):
            partials += wavg(f"__snum{i}", f"__sden{i}", w)

        def fold(pnum: Column, pden: Column, *s: Column) -> Column:
            primary = pnum / pden
            return _replicate_moe(
                agg, [primary - s[i] / s[i + 1] for i in range(0, len(s), 2)]
            )

        return Decomposition(partials, fold)
    if isinstance(agg, BinnedQuantile):
        # fixed-size array partials: counts sum, bounds min/max — exactly
        # decomposable at any coarser grain (the aggnav rollup contract)
        nb = len(agg.boundaries) + 1
        cells = functools.cache(lambda: _bq_cells(col(), agg))
        return Decomposition(
            (
                Partial("__bc", lambda: cells()[0], "sum", nb),
                Partial("__bmin", lambda: cells()[1], "min", nb),
                Partial("__bmax", lambda: cells()[2], "max", nb),
            ),
            lambda bc, blo, bhi: _bq_estimate(bc, blo, bhi, agg.p),
        )
    if isinstance(agg, Custom):
        # template with {} placeholder — schema/aggregator.rs:91-92; under
        # exact_scale the template is expected to yield a decimal (the user
        # embeds the cast), folded back to double at the end. Arbitrary SQL
        # is not known to re-merge at every grain, so no rollup stores it.
        template = agg.template.replace("{}", measure.column)
        return Decomposition(
            (Partial("", lambda: F.expr(template), "sum"),), exact, rollup=False
        )
    if isinstance(agg, (DistinctCount, ApproxDistinctCount)):
        return None
    raise ValueError(f"unsupported aggregator {agg!r}")


def _two_phase(measure: Measure, avg_grain: str) -> Decomposition:
    d = _decompose(measure, avg_grain)
    if d is None:
        raise ValueError(f"{measure.aggregator.kind} has no two-phase form")
    return d


def _merged(p: Partial, name: str) -> Column:
    """Partial column ``name + p.suffix`` merged over the rows of a group."""
    c = F.col(name + p.suffix)
    merge = _MERGES[p.merge]
    if p.width:
        return F.array(*[merge(F.element_at(c, j + 1)) for j in range(p.width)])
    return merge(c)


def needs_two_phase(measure: Measure, avg_grain: str = "flat") -> bool:
    """True when the measure's partials do not merge exactly (fk-grain avg,
    grouped median), so its plan must run the explicit two phases."""
    d = _decompose(measure, avg_grain)
    return d is not None and d.two_phase_only


def decomposable(measure: Measure, avg_grain: str) -> bool:
    """True when a rollup may store the pass-1 partials and re-merge them at
    ANY coarser grain. Grouped median (median-of-medians ≠ median), distinct
    counts (not mergeable without sketch state), custom templates (arbitrary
    SQL), and fk-grain averages (the reference's average-of-averages is
    grain-dependent, aggregator.rs:163) are not."""
    d = _decompose(measure, avg_grain)
    return d is not None and d.rollup


def single_pass_agg(measure: Measure) -> Column:
    """One flat aggregate expression, aliased to the measure name.

    Exact-equal to the reference's two-phase result for every kind whose
    partials merge exactly: the fold over the pass-1 expressions."""
    agg = measure.aggregator
    if isinstance(agg, DistinctCount):
        out = F.count_distinct(F.col(measure.column))
    elif isinstance(agg, ApproxDistinctCount):
        out = F.approx_count_distinct(F.col(measure.column), rsd=agg.rsd)
    elif isinstance(agg, Average) and measure.exact_scale is None:
        out = F.avg(F.col(measure.column))
    else:
        d = _decompose(measure)
        if d.two_phase_only:
            raise ValueError(
                "basic_grouped_median requires the two-phase plan path (hidden drilldown)"
            )
        out = d.fold(*[p.agg() for p in d.partials])
    return out.alias(measure.name)


def pass1_cols(measure: Measure, avg_grain: str = "flat") -> list[Column]:
    """Pass-1 (fk / hidden-dim grain) aggregate columns, named
    ``{measure}{suffix}``; ``pass2_col`` and ``merge_cols`` consume them."""
    d = _two_phase(measure, avg_grain)
    return [p.agg().alias(measure.name + p.suffix) for p in d.partials]


def pass2_col(measure: Measure, avg_grain: str = "flat") -> Column:
    """Pass-2 (drill grain): the fold over the merged pass-1 columns."""
    d = _two_phase(measure, avg_grain)
    return d.fold(*[_merged(p, measure.name) for p in d.partials]).alias(measure.name)


def merge_cols(measure: Measure, avg_grain: str = "flat") -> list[Column]:
    """Partial-PRESERVING merge of pass-1 columns — ``pass2_col`` without the
    final fold, so merged rollup rows keep the exact pass-1 schema (decimal
    sums stay decimal, (num,cnt) pairs stay pairs) and remain serveable.
    Deletes are NOT expressible (min/max can't retract) — rollup refresh is
    append-only by contract."""
    d = _decompose(measure, avg_grain)
    if d is None or not d.rollup:
        raise ValueError(f"non-mergeable aggregator {measure.aggregator!r}")
    return [_merged(p, measure.name).alias(measure.name + p.suffix) for p in d.partials]
