"""Aggregator model.

Mirrors the reference's aggregator taxonomy (tesseract-core/src/schema/aggregator.rs:11-93):
``sum count avg max min basic_grouped_median weighted_sum weighted_avg moe
replicate_weight_moe weighted_average_moe custom``.

The JSON wire shape is either a plain string (``"sum"``) or a single-key object for the
parameterized variants (``{"weighted_avg": {"weight_column": "w"}}``), matching the
reference's serde externally-tagged enum encoding.

Spark-side semantics live in :mod:`tesseract_spark.plans.aggregators` — this module is
pure metadata.
"""

from __future__ import annotations

from dataclasses import dataclass, field


class Aggregator:
    """Marker base class for all aggregator variants."""

    #: variant name as it appears in schema JSON
    kind: str = ""


@dataclass(frozen=True)
class Sum(Aggregator):
    kind = "sum"


@dataclass(frozen=True)
class Count(Aggregator):
    kind = "count"


@dataclass(frozen=True)
class Average(Aggregator):
    """Reference computes average-of-fk-grain-averages in its two-phase plan
    (aggregator.rs:34 pass-1 ``avg(col)``, :163 pass-2 ``avg(m0)``). We default to
    the mathematically-standard flat average; the fk-grain variant is available via
    ``PlanBuilder(avg_grain="fk")`` for bit-parity with the reference."""

    kind = "avg"


@dataclass(frozen=True)
class Max(Aggregator):
    kind = "max"


@dataclass(frozen=True)
class Min(Aggregator):
    kind = "min"


@dataclass(frozen=True)
class BasicGroupedMedian(Aggregator):
    """Median over per-group subtotals (aggregator.rs:37,166): pass-1 applies
    ``group_aggregator`` grouped by a hidden drilldown on ``group_dimension``;
    pass-2 takes the median of those subtotals."""

    kind = "basic_grouped_median"
    group_aggregator: str = "sum"
    group_dimension: str = ""


@dataclass(frozen=True)
class WeightedSum(Aggregator):
    """sum(column * weight_column) — aggregator.rs:45-51."""

    kind = "weighted_sum"
    weight_column: str = ""


@dataclass(frozen=True)
class WeightedAverage(Aggregator):
    """sum(column * weight) / sum(weight) — aggregator.rs:38-44,167-171."""

    kind = "weighted_avg"
    weight_column: str = ""


@dataclass(frozen=True)
class Moe(Aggregator):
    """cv * sqrt(sum(pow(col / cv, 2))) — aggregator.rs:64-70,193-198."""

    kind = "moe"
    critical_value: float = 1.645


@dataclass(frozen=True)
class ReplicateWeightMoe(Aggregator):
    """cv * sqrt(df/n_replicates * Σ_i pow(sum(col) - sum(sec_i), 2)) —
    aggregator.rs:52-63,177-192; worked example in reference moe.md."""

    kind = "replicate_weight_moe"
    critical_value: float = 1.645
    design_factor: float = 1.0
    secondary_columns: tuple[str, ...] = field(default_factory=tuple)


@dataclass(frozen=True)
class WeightedAverageMoe(Aggregator):
    """cv * sqrt(df/n * Σ_i pow(wavg(col, primary) - wavg(col, sec_i), 2)) —
    aggregator.rs:71-93,199-217."""

    kind = "weighted_average_moe"
    critical_value: float = 1.645
    design_factor: float = 1.0
    primary_weight: str = ""
    secondary_weight_columns: tuple[str, ...] = field(default_factory=tuple)


@dataclass(frozen=True)
class DistinctCount(Aggregator):
    """Exact distinct count (engine extension — the reference has no distinct
    aggregator). Non-decomposable: unavailable in the two-phase plan path."""

    kind = "distinct_count"


@dataclass(frozen=True)
class ApproxDistinctCount(Aggregator):
    """HyperLogLog++ distinct count (engine extension): sketch-mergeable, the
    scale path for distinct counts at 100 TB. No SQL oracle (sketch estimates
    are engine-specific)."""

    kind = "approx_distinct_count"
    rsd: float = 0.05


@dataclass(frozen=True)
class BinnedQuantile(Aggregator):
    """Rollup-tier quantile estimate (engine extension; see
    operators/sketch.py for the standalone form and the error contract):
    per-bin counts and observed value bounds aggregate as FIXED-SIZE arrays
    — decomposable (partials merge by elementwise sum/min/max), so
    aggregate-navigation rollups serve it at any coarser grain — and the
    final value applies quantile_cont's rank blend over within-bin
    interpolated order statistics. Deterministic IEEE arithmetic
    end-to-end, hence exactly SQL-mirrorable (unlike a t-digest). Error
    ≤ bin width; BIT-equal to quantile_cont when every distinct value has
    its own bin.

    Boundaries come either literal (``boundaries``) or AUTO-DERIVED
    (``n_bins`` with no boundaries — VERDICT r9 #5): the schema author
    declares only a resolution and
    ``PlanBuilder.resolve_binned_boundaries`` fills in equal-frequency
    edges from the deterministic exact rank fold at materialization time
    (operators/sketch.derive_bin_edges), so a 100 TB deployment never
    needs a human to know the value distribution. An unresolved auto
    measure fails loudly at plan build."""

    kind = "binned_quantile"
    p: float = 0.5
    boundaries: tuple[float, ...] = ()
    #: auto-derivation resolution; 0 = boundaries are literal
    n_bins: int = 0


@dataclass(frozen=True)
class Custom(Aggregator):
    """SQL template with ``{}`` placeholder for the measure column
    (schema/aggregator.rs:91-92). Compiled via ``F.expr`` — only decomposable
    templates roll up correctly across two phases, same caveat as the reference."""

    kind = "custom"
    template: str = ""


_SIMPLE = {
    a.kind: a
    for a in (Sum(), Count(), Average(), Max(), Min(), DistinctCount(), ApproxDistinctCount())
}


def parse_aggregator(raw) -> Aggregator:
    """Parse the JSON wire form (plain string or single-key parameter object)."""
    if isinstance(raw, Aggregator):
        return raw
    if isinstance(raw, str):
        try:
            return _SIMPLE[raw]
        except KeyError:
            raise ValueError(f"unknown aggregator: {raw!r}") from None
    if isinstance(raw, dict) and len(raw) == 1:
        [(kind, params)] = raw.items()
        if kind == "custom":
            return Custom(template=params)
        if kind == "basic_grouped_median":
            return BasicGroupedMedian(
                group_aggregator=params["group_aggregator"],
                group_dimension=params["group_dimension"],
            )
        if kind == "approx_distinct_count":
            return ApproxDistinctCount(rsd=float(params.get("rsd", 0.05)))
        if kind == "binned_quantile":
            if "boundaries" in params:
                return BinnedQuantile(
                    p=float(params["p"]),
                    boundaries=tuple(float(b) for b in params["boundaries"]),
                )
            return BinnedQuantile(
                p=float(params["p"]), n_bins=int(params["n_bins"])
            )
        if kind == "weighted_sum":
            return WeightedSum(weight_column=params["weight_column"])
        if kind == "weighted_avg":
            return WeightedAverage(weight_column=params["weight_column"])
        if kind == "moe":
            return Moe(critical_value=float(params["critical_value"]))
        if kind == "replicate_weight_moe":
            return ReplicateWeightMoe(
                critical_value=float(params["critical_value"]),
                design_factor=float(params["design_factor"]),
                secondary_columns=tuple(params["secondary_columns"]),
            )
        if kind == "weighted_average_moe":
            return WeightedAverageMoe(
                critical_value=float(params["critical_value"]),
                design_factor=float(params["design_factor"]),
                primary_weight=params["primary_weight"],
                secondary_weight_columns=tuple(params["secondary_weight_columns"]),
            )
        raise ValueError(f"unknown aggregator kind: {kind!r}")
    raise ValueError(f"cannot parse aggregator from {raw!r}")
