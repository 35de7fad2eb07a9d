"""Aggregate navigation: serve coarse OLAP queries from materialized rollups.

The classic agg-table pattern (Mondrian aggregate tables; the mondrian
lineage the reference descends from — mondrian-tesseract.md — but which
tesseract itself never implemented: every reference query re-scans the fact
table through ClickHouse). At 100 TB the fact scan is the entire cost of a
dashboard query, so the standard warehouse move is to materialize ONE rollup
at a mid-grain (say Year × Brand × Region) and answer every coarser query
(Year; Year × Region; …) from it — GBs instead of TBs, with partition
pruning on top.

Spark-first design:

- **Materialize = pass-1 partials, not final values.** The rollup stores the
  engine's existing two-phase pass-1 columns (``aggregators.pass1_cols``):
  decimal sums for exact-mode measures, (num, cnt) pairs for averages,
  sum-of-squares for MOE. ``plans/aggregators.py`` owns that partial layout,
  which measures may roll up (``decomposable``) and how increments merge
  into stored partials (``merge_cols``); this module only routes, reads and
  writes. Serving re-aggregates with ``pass2_col`` — the
  same composition already proven bit-equal to single-pass results by the
  two-phase entries — so a served result is BIT-IDENTICAL to running the
  query against the fact table, decimal associativity doing the work.
  (Measures WITHOUT ``exact_scale`` sum plain doubles; re-aggregating their
  partials can shift the last ulp — the same non-associativity any plan
  reshape (AQE, semi-join pushdown) already exhibits on the fact path, per
  ``aggregators._exact_sum``. Declare ``exact_scale`` where bit-stability
  across serving paths matters.)
- **Partition pruning.** The rollup is written partitioned by a chosen
  low-cardinality drill column; a cut on that level becomes a directory
  prune (``PartitionFilters``), not a scan+filter.
- **Ancestor serving.** Materializing with ``parents=True`` stores each
  drill's ancestor columns, so queries at ANY ancestor grain (Region from a
  Nation rollup) are served too — the alias-subset check makes this
  automatic, no hierarchy walk at serve time.
- **Conservative fallback.** Anything not provably equivalent — calculations
  (growth/RCA/rate), non-decomposable aggregators (grouped median, exact
  distinct counts, custom templates, fk-grain averages), cuts on levels
  absent from the grain, differing default-member implicit cuts — falls
  through to the fact-table ``PlanBuilder`` path untouched.
- **Approximate-distinct tier (opt-in).** ``materialize(sketch_p=...)``
  stores ApproxDistinctCount measures as per-group HLL register datasets;
  element-wise register max is associative, so serving at any coarser
  grain (and append-only refresh) reproduces the direct fact-side sketch
  BIT-identically. The estimate is the package's oracle-able HLL
  (``operators.sketch``), not approx_count_distinct's engine-private
  HLL++ — see the MaterializedGrain field docs for the contract.

Self-describing on disk: ``{path}/partials`` (parquet, parquet-safe column
tokens) + ``{path}/meta`` (single-row parquet with the real column names,
dtypes, grain definition) — ``load_grain`` re-registers an existing rollup
in a fresh process, mirroring ``operators/ann_index``'s persistent-index
contract.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..query.model import LevelName, Query
from ..schema.aggregator import ApproxDistinctCount
from ..sources.rollup_sink import rewrite_partitions, write_rollup
from . import aggregators as agg_mod
from .builder import cut_alias, level_key_alias


@dataclass
class MaterializedGrain:
    cube: str
    drilldowns: list[str]
    measures: list[str]
    path: str
    columns: list[str]  # real (engine-alias) column names, in written order
    dtypes: list[str]  # matching Spark dtype strings
    partition_by: list[str]  # real names of partition columns
    implicit_sig: str  # default-member cut signature at materialize time
    parents: bool
    n_rows: int  # rollup cardinality — match() prefers the smallest cover
    # approximate-distinct tier (opt-in via materialize(sketch_p=...)):
    # ApproxDistinctCount measures materialized as per-group HLL register
    # datasets ({path}/hll_<i>). Register MAX is associative, so rollup-
    # served registers are bit-identical to direct registers at any coarser
    # grain — the ESTIMATE is exactly stable across serving paths. It is
    # NOT the engine-private HLL++ of approx_count_distinct, so a
    # sketch-served value differs from the fact path's approx value within
    # the same rsd-class error; materializing sketches is the explicit
    # opt-in to that contract.
    sketch_measures: list[str] = field(default_factory=list)
    sketch_p: int = 0


# the on-disk meta row: one column per MaterializedGrain field except path
# (field types hold no commas, so the names split off the DDL directly)
_META_DDL = (
    "cube string, drilldowns array<string>, measures array<string>,"
    " columns array<string>, dtypes array<string>,"
    " partition_by array<string>, implicit_sig string,"
    " parents boolean, n_rows long,"
    " sketch_measures array<string>, sketch_p long"
)
_META_FIELDS = [f.split()[0] for f in _META_DDL.split(",")]


def _safe_names(columns: list[str]) -> list[str]:
    # parquet rejects " ,;{}()\n\t=" in field names; engine aliases carry
    # spaces ("Extended Price"). Positional tokens round-trip anything.
    return [f"c{i}" for i in range(len(columns))]


def _implicit_sig(builder, cube, query: Query) -> str:
    cuts = builder._implicit_cuts(cube, query)
    return ";".join(
        sorted(f"{c.level_name}|{','.join(map(str, c.members))}" for c in cuts)
    )


class AggregateNavigator:
    """Routes queries to a compatible materialized grain, else to the
    fact-table builder. Register grains via :meth:`materialize` (build) or
    :meth:`load_grain` (existing rollup)."""

    def __init__(self, builder):
        self.builder = builder
        self.grains: list[MaterializedGrain] = []

    # ---------------- build side ----------------

    def materialize(
        self,
        cube_name: str,
        drilldowns: list[str],
        measures: list[str],
        path: str,
        partition_by: str | None = None,
        parents: bool = True,
        mode: str = "overwrite",
        sketch_p: int | None = None,
    ) -> MaterializedGrain:
        """Aggregate the cube at ``drilldowns`` grain storing pass-1 partials,
        written partitioned by ``partition_by`` (a drill unique-name whose KEY
        column becomes the partition directory; default: first drilldown).
        One fact-table scan, ever; every served query afterwards reads only
        this rollup.

        ``sketch_p``: opt-in approximate-distinct tier — ApproxDistinctCount
        measures in ``measures`` are materialized as per-group HLL register
        datasets (``2^sketch_p`` registers; ``operators.sketch``) instead of
        being rejected as non-decomposable. See the MaterializedGrain field
        docs for the serving contract."""
        b = self.builder
        cube = b.schema.cube(cube_name)
        sketch_meas = (
            [
                m
                for m in measures
                if isinstance(cube.measure(m).aggregator, ApproxDistinctCount)
            ]
            if sketch_p
            else []
        )
        part_meas = [m for m in measures if m not in sketch_meas]
        if not part_meas:
            raise ValueError(
                "aggregate navigation needs at least one decomposable "
                "measure in the grain (the sketch tier rides alongside)"
            )
        q, group_cols, joined, pre = self._build_partials(
            cube_name, drilldowns, part_meas, parents
        )

        columns = pre.columns
        dtypes = [dict(pre.dtypes)[c] for c in columns]
        safe = dict(zip(columns, _safe_names(columns)))

        part_ref = (
            b.resolve_level(cube, LevelName.parse(partition_by))
            if partition_by
            else None
        )
        part_cols = (
            [level_key_alias(part_ref.level)] if part_ref else [group_cols[0]]
        )
        missing = [c for c in part_cols if c not in columns]
        if missing:
            raise ValueError(f"partition column(s) not in grain output: {missing}")

        safe_parts = [safe[c] for c in part_cols]
        out = pre.select(*[F.col(c).alias(safe[c]) for c in columns])
        write_rollup(out, f"{path}/partials", safe_parts, mode)

        from ..operators.sketch import hll_grouped_registers

        for i, mname in enumerate(sketch_meas):
            # same `joined` grain rows as the partials — Spark re-executes
            # the scan per action, but the PLAN is shared (and at 100 TB a
            # build is a one-off; serving never touches the fact again)
            regs = hll_grouped_registers(
                joined, group_cols, cube.measure(mname).column, sketch_p
            )
            regs_out = regs.select(
                *[F.col(c).alias(safe[c]) for c in group_cols], "j", "r"
            )
            write_rollup(regs_out, f"{path}/hll_{i}", safe_parts, mode)

        grain = MaterializedGrain(
            cube=cube_name,
            drilldowns=list(drilldowns),
            measures=list(part_meas),
            path=path,
            columns=columns,
            dtypes=dtypes,
            partition_by=part_cols,
            implicit_sig=_implicit_sig(b, cube, q),
            parents=parents,
            # parquet metadata count — no data scan; lets match() rank grains
            n_rows=b.spark.read.parquet(f"{path}/partials").count(),
            sketch_measures=list(sketch_meas),
            sketch_p=int(sketch_p or 0),
        )
        self._write_meta(b.spark, grain, mode)
        self.grains.append(grain)
        return grain

    def _build_partials(
        self,
        cube_name: str,
        drilldowns: list[str],
        measures: list[str],
        parents: bool,
        fact: DataFrame | None = None,
    ):
        """The grain pipeline shared by materialize (full fact) and refresh
        (an increment): implicit cuts + projection + dim joins, then pass-1
        partial aggregation. Returns (query, grain group aliases, joined
        grain rows, partials); the joined rows also feed the HLL sketches."""
        b = self.builder
        cube = b.schema.cube(cube_name)
        params: dict = {"drilldowns": drilldowns, "measures": measures}
        if parents:
            params["parents"] = "true"
        q = Query.from_params(params)
        b._validate(cube, q)
        specs = b._drill_specs(cube, q)
        mea_objs = [cube.measure(m) for m in q.measures]
        bad = [m.name for m in mea_objs if not agg_mod.decomposable(m, b.avg_grain)]
        if bad:
            raise ValueError(
                f"measures not decomposable for aggregate navigation: {bad}"
            )
        if fact is None:
            fact = b.registry.load(cube.table)
        # implicit default-member cuts
        joined = b._join_fact(specs, b._apply_cuts(cube, q, fact))
        group_cols = b._group_aliases(specs)
        p1 = [c for m in mea_objs for c in agg_mod.pass1_cols(m, b.avg_grain)]
        pre = joined.groupBy(*[F.col(c) for c in group_cols]).agg(*p1)
        return q, group_cols, joined, pre

    def refresh(self, grain: MaterializedGrain, new_fact: DataFrame) -> list:
        """APPEND-ONLY incremental maintenance: fold new fact rows into the
        rollup, rewriting ONLY the partition directories the increment
        touches (Spark dynamic partition overwrite). The 100 TB shape: a
        daily fact arrival re-aggregates one day's rows and rewrites the
        affected Year (or whatever the partition drill is) directories —
        the rest of the rollup is untouched bytes. Deletes/corrections are
        not expressible (min/max partials can't retract); rebuild with
        :meth:`materialize` for those. Returns the affected partition values.

        Exactness: merged partials keep the pass-1 schema via
        :func:`aggregators.merge_cols` (decimal sums stay decimal), so a refreshed
        rollup serves bit-identically to one materialized from the full
        fact — pinned by ``tests/test_aggnav.py``."""
        b = self.builder
        cube = b.schema.cube(grain.cube)
        _, group_cols, joined_inc, new_partials = self._build_partials(
            grain.cube, grain.drilldowns, grain.measures, grain.parents, new_fact
        )
        # normalize column order to the grain's written layout; materialize
        # once (bounded: increment grain cardinality) — the affected-value
        # collect below and the merge both consume it, and a lazy frame
        # would re-run the increment's join+aggregation per action
        new_partials = new_partials.select(
            *[F.col(c) for c in grain.columns]
        ).localCheckpoint(eager=False)

        part_col = grain.partition_by[0]
        # bounded collect: one row per AFFECTED partition value (partition
        # drills are low-cardinality by design — see rollup_sink notes)
        affected = [
            r[0] for r in new_partials.select(part_col).distinct().collect()
        ]
        if not affected:
            return []

        existing = self._read_partials(b.spark, grain).filter(
            F.col(part_col).isin(affected)
        )
        mea_objs = [cube.measure(m) for m in grain.measures]
        merged = (
            existing.unionByName(new_partials)
            .groupBy(*[F.col(c) for c in group_cols])
            .agg(*[c for m in mea_objs for c in agg_mod.merge_cols(m, b.avg_grain)])
            .select(*[F.col(c) for c in grain.columns])
        )
        # break lineage before overwriting the path being read (bounded:
        # only the affected partitions' rollup rows — grain cardinality)
        merged = merged.localCheckpoint(eager=True)

        safe = dict(zip(grain.columns, _safe_names(grain.columns)))
        out = merged.select(*[F.col(c).alias(safe[c]) for c in grain.columns])
        spark = b.spark
        rewrite_partitions(out, f"{grain.path}/partials", [safe[part_col]])
        # sketch tier: merge increment registers into the affected
        # partitions by element-wise max — the merge is EXACT (registers of
        # a union are the max of the parts), so a refreshed sketch serves
        # identically to one built from the full fact
        if grain.sketch_measures:
            from ..operators.sketch import hll_grouped_registers

            for i, mname in enumerate(grain.sketch_measures):
                inc = hll_grouped_registers(
                    joined_inc,
                    group_cols,
                    cube.measure(mname).column,
                    grain.sketch_p,
                )
                existing_regs = self._read_partials(spark, grain, f"hll_{i}").filter(
                    F.col(part_col).isin(affected)
                )
                merged_regs = (
                    existing_regs.unionByName(
                        inc.select(*[F.col(c) for c in group_cols], "j", "r")
                    )
                    .groupBy(*[F.col(c) for c in group_cols], F.col("j"))
                    .agg(F.max("r").alias("r"))
                    .localCheckpoint(eager=True)
                )
                out_regs = merged_regs.select(
                    *[F.col(c).alias(safe[c]) for c in group_cols],
                    "j",
                    "r",
                )
                rewrite_partitions(
                    out_regs, f"{grain.path}/hll_{i}", [safe[part_col]]
                )

        grain.n_rows = spark.read.parquet(f"{grain.path}/partials").count()
        self._write_meta(spark, grain, "overwrite")
        return affected

    @staticmethod
    def _write_meta(spark: SparkSession, g: MaterializedGrain, mode: str) -> None:
        from ..session import local_df

        row = [tuple(getattr(g, name) for name in _META_FIELDS)]
        local_df(spark, row, _META_DDL).coalesce(1).write.mode(mode).parquet(
            f"{g.path}/meta"
        )

    def load_grain(self, spark: SparkSession, path: str) -> MaterializedGrain:
        """Re-register a rollup materialized by another process. Metas
        written before the sketch tier lack its fields and load with the
        dataclass defaults."""
        row = spark.read.parquet(f"{path}/meta").collect()[0].asDict()
        grain = MaterializedGrain(path=path, **row)
        self.grains.append(grain)
        return grain

    # ---------------- serve side ----------------

    def _read_partials(
        self, spark: SparkSession, g: MaterializedGrain, sub: str = "partials"
    ) -> DataFrame:
        """Read ``{path}/{sub}`` (the partials or a ``hll_<i>`` register
        dataset) with the real names/dtypes of the grain columns it holds
        restored; other columns (the registers' ``j``/``r``) pass through.
        Partition columns come back via directory inference; the recorded
        dtype cast normalizes them (keys are written via ``str()`` of the
        key value, so the cast is lossless for the int/string keys levels
        carry)."""
        df = spark.read.parquet(f"{g.path}/{sub}")
        safe = _safe_names(g.columns)
        present = df.columns
        sel = []
        for real, tok, dt in zip(g.columns, safe, g.dtypes):
            if tok in present:
                c = F.col(tok)
                if real in g.partition_by:
                    c = c.cast(dt)
                sel.append(c.alias(real))
        return df.select(*sel, *[c for c in present if c not in safe])

    def match(self, cube_name: str, query: Query) -> MaterializedGrain | None:
        """First registered grain that can answer ``query`` exactly."""
        b = self.builder
        cube = b.schema.cube(cube_name)
        if (
            query.rca is not None
            or query.growth is not None
            or query.rate is not None
            or query.conditional_cuts
            # disjunctive cut groups (single-plan L5, r12): serve()'s
            # cut_filter applies only the conjunctive query.cuts — serving
            # a cut_groups query from a rollup would silently DROP the
            # OR-of-cuts filter (code-review r12 finding #1); the fact
            # path applies them correctly
            or query.cut_groups
        ):
            return None
        if any(not c.members for c in query.cuts):
            return None  # memberless semi-join markers need the fact table
        try:
            query = b._with_calc_drills(cube, query)
            specs = b._drill_specs(cube, query)
        except Exception:
            return None
        mea_objs = [cube.measure(m) for m in query.measures]
        # ApproxDistinctCount rides the sketch tier (coverage checked per
        # grain below); every other non-decomposable aggregator falls back
        if any(
            not agg_mod.decomposable(m, b.avg_grain)
            and not isinstance(m.aggregator, ApproxDistinctCount)
            for m in mea_objs
        ):
            return None
        approx_names = {
            m.name
            for m in mea_objs
            if isinstance(m.aggregator, ApproxDistinctCount)
        }
        exact_names = [m for m in query.measures if m not in approx_names]
        need = set(b._group_aliases(specs))
        cut_cols = [
            cut_alias(b.resolve_level(cube, cut.level_name).level, cut)
            for cut in query.cuts
        ]
        # smallest covering rollup wins: fewer rows = less to rescan
        for g in sorted(self.grains, key=lambda g: g.n_rows):
            if g.cube != cube_name:
                continue
            have = set(g.columns)
            if not need <= have:
                continue
            if not set(exact_names) <= set(g.measures):
                continue
            if not approx_names <= set(g.sketch_measures):
                continue
            if any(c not in have for c in cut_cols):
                continue
            if _implicit_sig(b, cube, query) != g.implicit_sig:
                continue
            return g
        return None

    def serve(self, cube_name: str, query: Query) -> DataFrame | None:
        """Answer ``query`` from a matching rollup, or None. The plan reads
        ONLY ``{path}/partials`` — never the fact table — and cuts on the
        partition drill prune directories."""
        g = self.match(cube_name, query)
        if g is None:
            return None
        b = self.builder
        cube = b.schema.cube(cube_name)
        query = b._with_calc_drills(cube, query)
        b._validate(cube, query)
        specs = b._drill_specs(cube, query)
        mea_objs = [cube.measure(m) for m in query.measures]

        sketch_objs = [
            m for m in mea_objs if m.name in set(g.sketch_measures)
        ]
        exact_objs = [m for m in mea_objs if m.name not in set(g.sketch_measures)]

        def cut_filter(frame: DataFrame) -> DataFrame:
            for cut in query.cuts:
                frame = frame.filter(b.alias_cut(cube, cut))
            return frame

        df = cut_filter(self._read_partials(b.spark, g))

        group_cols = b._group_aliases(specs)
        p2 = [agg_mod.pass2_col(m, b.avg_grain) for m in exact_objs]
        if p2:
            df = df.groupBy(*[F.col(c) for c in group_cols]).agg(*p2)
        else:
            # all-sketch query: the base frame is the grain's group rows
            df = df.select(*[F.col(c) for c in group_cols]).distinct()

        for m in sketch_objs:
            est = self._serve_sketch(g, m, group_cols, cut_filter)
            if group_cols:
                df = df.join(est, group_cols, "left").withColumn(
                    m.name, F.coalesce(F.col(m.name), F.lit(0))
                )
            else:
                df = df.crossJoin(F.broadcast(est))
        # restore the query's measure column order after the sketch joins
        df = df.select(
            *[F.col(c) for c in group_cols],
            *[F.col(m.name) for m in mea_objs],
        )
        return b._apply_options(cube, query, specs, df)

    def _serve_sketch(
        self, g: MaterializedGrain, measure, group_cols: list[str], cut_filter
    ) -> DataFrame:
        """Estimate one ApproxDistinctCount measure at the requested grain
        from the grain's register dataset: cut-filter, merge registers by
        element-wise max (exact — see operators.sketch), then the HLL
        estimate. Reads only {path}/hll_<i>; cuts on the partition drill
        prune directories exactly like the partials."""
        from ..operators.sketch import hll_estimate_grouped, hll_merge_grouped

        b = self.builder
        i = list(g.sketch_measures).index(measure.name)
        regs = cut_filter(self._read_partials(b.spark, g, f"hll_{i}"))
        merged = hll_merge_grouped(regs, group_cols)
        return hll_estimate_grouped(
            merged, group_cols, g.sketch_p, out_col=measure.name
        )

    def dataframe(self, cube_name: str, query: Query) -> DataFrame:
        """Serve from a rollup when possible, else the fact-table plan."""
        served = self.serve(cube_name, query)
        if served is not None:
            return served
        return self.builder.dataframe(cube_name, query)
