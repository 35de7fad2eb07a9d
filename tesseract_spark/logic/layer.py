"""Logic layer: the `/data` endpoint semantics.

Mirrors tesseract-server/src/logic_layer (aggregate.rs:193-558,
config.rs:160-268): cube-name aliases, unique-level-name drilldowns/cuts
(flattened ``Level=members`` params), named-set expansion, ``time=`` resolution,
cut operations ``id:children`` / ``id:parents`` / ``id:neighbors``, and
``exclude=`` row drops.

Multi-level cuts (SURVEY.md L5) follow the reference exactly: cuts on several
levels of one dimension fan out into the cartesian product of per-level cut
combinations — one query each, the chosen level auto-drilled — and the results
are unioned by position under the first combination's headers
(aggregate.rs:817-916, merge :321-534; pinned by catalog entry
``q_multi_cut_union``). The Spark advantage is that the fan is N branches of
ONE union plan executed concurrently, not N sequential round-trips.
``exclude=`` becomes an in-plan filter (P8) rather than a post-union row drop.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from ..plans.builder import PlanBuilder
from ..query.model import Cut, LevelName, Mask, Query
from ..schema.model import Cube
from .cache import MemberCache


@dataclass
class NamedSet:
    # config.rs:221-268
    name: str
    level_name: str  # unique level name
    members: list[str]


@dataclass
class LogicLayerConfig:
    aliases: dict[str, str] = field(default_factory=dict)  # alias → cube name
    named_sets: list[NamedSet] = field(default_factory=list)

    @classmethod
    def from_json(cls, cfg: dict) -> "LogicLayerConfig":
        aliases: dict[str, str] = {}
        for c in cfg.get("cubes", ()):
            for alt in c.get("alternatives", ()):
                aliases[alt] = c["name"]
        sets = [
            NamedSet(s["set_name"], block["level_name"], list(s["values"]))
            for block in cfg.get("named_sets", ())
            for s in block.get("sets", ())
        ]
        return cls(aliases=aliases, named_sets=sets)


class LogicLayer:
    def __init__(
        self,
        builder: PlanBuilder,
        config: LogicLayerConfig | None = None,
        geoservice=None,
        navigator=None,
    ):
        self.builder = builder
        self.config = config or LogicLayerConfig()
        self.geoservice = geoservice  # GeoService for type=geo dims (L4)
        # optional plans.aggnav.AggregateNavigator: queries a materialized
        # rollup can answer are served from it (bit-equal for exact-scale
        # measures), everything else falls through to the builder — the
        # navigator's own dataframe() does the routing
        self.navigator = navigator
        #: cube name → (registry generation, its member cache)
        self._caches: dict[str, tuple[int, MemberCache]] = {}

    def _engine_dataframe(self, cube_name: str, q: Query):
        if self.navigator is not None:
            return self.navigator.dataframe(cube_name, q)
        return self.builder.dataframe(cube_name, q)

    # ---------------- naming ----------------

    def resolve_cube(self, name: str) -> Cube:
        return self.builder.schema.cube(self.config.aliases.get(name, name))

    def level_map(self, cube: Cube) -> dict[str, LevelName]:
        """Unique level name → fully qualified LevelName (requires level-name
        uniqueness across the cube — lib.rs:168-209)."""
        out: dict[str, LevelName] = {}
        for dim in cube.dimensions:
            for hier in dim.hierarchies:
                for lv in hier.levels:
                    out.setdefault(lv.name, LevelName(dim.name, hier.name, lv.name))
        return out

    def cache(self, cube: Cube) -> MemberCache:
        """The cube's member cache, rebuilt when the registry generation
        has moved (a ``register`` or ``refresh_files``), so member lists
        and ``latest`` follow the data."""
        gen = self.builder.registry.generation
        entry = self._caches.get(cube.name)
        if entry is None or entry[0] != gen:
            entry = self._caches[cube.name] = (gen, MemberCache(self.builder, cube))
        return entry[1]

    # ---------------- cut resolution ----------------

    def _expand_named_set(self, level_name: str, token: str) -> list[str] | None:
        for s in self.config.named_sets:
            if s.level_name == level_name and s.name == token:
                return list(s.members)
        return None

    def _resolve_cut_tokens(
        self, cube: Cube, ln: LevelName, unique_name: str, raw: str
    ) -> list[Cut]:
        """``Level=v1,v2`` / ``id:children`` / ``id:parents`` / ``id:neighbors``
        / named-set tokens → concrete cuts (logic_layer/aggregate.rs:1037-1261)."""
        cache = self.cache(cube)
        cuts: list[Cut] = []
        plain: list[str] = []
        for token in raw.split(","):
            token = token.strip()
            expanded = self._expand_named_set(unique_name, token)
            if expanded is not None:
                plain.extend(expanded)
                continue
            if ":" in token:
                member, op = token.rsplit(":", 1)
                member_typed = self.builder.member_literal(cube, ln, member)
                # geo-typed dims route relations through the geoservice when
                # configured (geoservice.rs:29-74: resolved IDs are inlined)
                from ..schema.model import DimensionType

                dim = cube.dimension(ln.dimension)
                if (
                    self.geoservice is not None
                    and dim.dim_type is DimensionType.GEO
                    and op in ("neighbors", "children", "parents")
                ):
                    ids = self.geoservice.relate(op, member_typed)
                    if ids:
                        plain.extend(str(i) for i in ids)
                    continue
                if op == "children":
                    child_ln, kids = cache.children(ln, member_typed)
                    if kids:
                        cuts.append(Cut(child_ln, tuple(str(k) for k in kids)))
                    continue
                if op == "parents":
                    for parent_ln, pid in cache.parents(ln, member_typed):
                        if pid is not None:
                            cuts.append(Cut(parent_ln, (str(pid),)))
                    continue
                if op == "neighbors":
                    ns = cache.neighbors(ln, member_typed)
                    if ns:
                        plain.extend(str(n) for n in ns)
                    continue
                raise ValueError(f"unknown cut operation {op!r}")
            plain.append(token)
        if plain:
            cuts.append(Cut(ln, tuple(plain)))
        return cuts

    # ---------------- time= resolution ----------------

    def _resolve_time(self, cube: Cube, spec: str) -> list[Cut]:
        """``time=year.latest,month.oldest`` → cuts on matching time levels
        (cache.rs:16-110, 168-243). Level match is by lowercase level name over
        time-typed dimensions."""
        from ..schema.model import DimensionType

        cache = self.cache(cube)
        cuts = []
        for part in spec.split(","):
            precision, _, point = part.strip().partition(".")
            if point not in ("latest", "oldest"):
                # literal value: time=year.2017
                point_value = point
            else:
                point_value = None
            target = None
            for dim in cube.dimensions:
                if dim.dim_type is not DimensionType.TIME:
                    continue
                for hier in dim.hierarchies:
                    for lv in hier.levels:
                        if lv.name.lower() == precision.lower():
                            target = LevelName(dim.name, hier.name, lv.name)
            if target is None:
                raise ValueError(f"no time level matching {precision!r}")
            if point_value is None:
                value = cache.latest(target) if point == "latest" else cache.oldest(target)
            else:
                value = point_value
            cuts.append(Cut(target, (str(value),)))
        return cuts

    # ---------------- members (logic-layer naming) ----------------

    def members(self, cube_name: str, level: str, locale: str | None = None):
        """Logic-layer `/members`: the cube name resolves through aliases
        and the level through its UNIQUE name (no Dim.Hier.Level
        qualification needed — handlers/logic_layer/metadata.rs:47-130),
        then the cube members path serves it, locale captions included."""
        from ..metadata import members_df

        cube = self.resolve_cube(cube_name)
        ln = self.level_map(cube).get(level)
        if ln is None:
            # fall through to a fully qualified Dim.Hier.Level string,
            # which the cube members path parses directly
            return members_df(self.builder, cube.name, level, locale)
        return members_df(self.builder, cube.name, ln, locale)

    # ---------------- relations (L6) ----------------

    def relations(self, cube_name: str, level: str, member: str) -> list[dict]:
        """`/relations` rows: parents / children / neighbors of a member as a
        4-col table (handlers/logic_layer/relations.rs:55-363)."""
        cube = self.resolve_cube(cube_name)
        lmap = self.level_map(cube)
        ln = lmap.get(level) or LevelName.parse(level)
        cache = self.cache(cube)
        m = self.builder.member_literal(cube, ln, member)
        out: list[dict] = []
        for parent_ln, pid in cache.parents(ln, m):
            out.append(
                {"relation": "parent", "level": parent_ln.level, "id": pid, "of": m}
            )
        try:
            child_ln, kids = cache.children(ln, m)
            out.extend(
                {"relation": "child", "level": child_ln.level, "id": k, "of": m}
                for k in kids
            )
        except ValueError:
            pass  # lowest level has no children
        out.extend(
            {"relation": "neighbor", "level": ln.level, "id": n, "of": m}
            for n in cache.neighbors(ln, m)
        )
        return out

    # ---------------- multi-cut fan-out (L5) ----------------

    def _fanout_union(
        self,
        cube: Cube,
        q: Query,
        dim_cuts: dict[str, dict[LevelName, Cut]],
        multi_dims: set[str],
    ) -> DataFrame:
        """Reference L5 semantics (aggregate.rs:817-916, merge at :321-534):
        one query per cut combination (cartesian product choosing one cut level
        per dimension), the chosen level auto-drilled when its dimension has
        several cut levels, results unioned BY POSITION with the first
        combination's headers. Each branch is an independent DataFrame plan;
        Spark runs the union's branches concurrently, so the fan costs one
        multi-branch job instead of the reference's N round-trips."""
        import copy
        from functools import reduce
        from itertools import product

        combos = list(product(*[list(per.values()) for per in dim_cuts.values()]))
        dfs = []
        for combo in combos:
            qc = copy.copy(q)
            qc.drilldowns = list(q.drilldowns)
            qc.cuts = list(q.cuts) + list(combo)
            for cut in combo:
                if (
                    cut.level_name.dimension in multi_dims
                    and cut.level_name not in qc.drilldowns
                ):
                    qc.drilldowns.append(cut.level_name)
            dfs.append(self._engine_dataframe(cube.name, qc))
        first = dfs[0]
        width = len(first.columns)
        for other in dfs[1:]:
            if len(other.columns) != width:
                raise ValueError(
                    "multi-cut combinations produced differing column counts "
                    f"({width} vs {len(other.columns)}); positional union "
                    "requires symmetric level columns (key [+ name]) across "
                    "the cut levels of each dimension"
                )
        return reduce(lambda a, b: a.union(b.toDF(*first.columns)), dfs[1:], first)

    def _try_single_plan(
        self,
        cube: Cube,
        q: Query,
        dim_cuts: dict[str, dict[LevelName, Cut]],
        multi_dims: set[str],
    ) -> "DataFrame | None":
        """Single-plan multi-cut (SURVEY §2.10 L5, VERDICT r11 #7): when
        every multi-cut dimension's cut levels are ALREADY drilled, all fan
        branches share one grain — so instead of N aggregations + union,
        compile ONE plan whose pre-aggregation filter is the AND across
        dimensions of (OR over that dimension's cut levels) — the fan's
        OR-of-ANDs factorized — then reproduce the union's row MULTIPLICITY
        post-aggregation: a group matching ``m_d`` of dimension d's cuts
        appears in ``Π m_d`` branches (cuts on drilled levels are constant
        within a group, so each matching branch aggregates the identical row
        set). One fact scan and one shuffle instead of N.

        Returns None (caller falls back to the reference fan-out) when a
        branch would differ: an undrilled cut level (different grains), a
        non-plain cut (LIKE / exclude / memberless), or a per-branch
        calculation whose result is not union-distributive (growth / rca /
        rate / top / top_where / limit)."""
        import copy

        from pyspark.sql import functions as F

        if (
            q.growth is not None
            or q.rca is not None
            or q.rate is not None
            or q.top is not None
            or q.top_where is not None
            or q.limit is not None
        ):
            return None
        drilled = set(q.drilldowns)
        for d in multi_dims:
            for ln, cut in dim_cuts[d].items():
                if ln not in drilled:
                    return None
                if cut.mask is not Mask.INCLUDE or cut.for_match or not cut.members:
                    return None

        qc = copy.copy(q)
        qc.cuts = list(q.cuts)
        qc.cut_groups = []
        for d, per in dim_cuts.items():
            if d in multi_dims:
                qc.cut_groups.append(tuple(per.values()))
            else:
                qc.cuts.extend(per.values())
        df = self._engine_dataframe(cube.name, qc)

        # post-agg multiplicity: per multi-cut dim, m_d = #cuts the group's
        # (drilled) keys match; emit the group Π m_d times. The filter above
        # guarantees Π m_d ≥ 1 on every surviving group.
        mult = None
        for d in multi_dims:
            m_d = None
            for cut in dim_cuts[d].values():
                hit = self.builder.alias_cut(cube, cut).cast("int")
                m_d = hit if m_d is None else m_d + hit
            mult = m_d if mult is None else mult * m_d
        # array_repeat, NOT sequence(1, mult): sequence defaults to step -1
        # when stop < start, so sequence(1, 0) is [1, 0] — a group that
        # somehow matched no cut would be DUPLICATED instead of dropped.
        # array_repeat(·, 0) is empty → explode drops the row: fail closed
        # if any path ever skips the OR-of-cuts pre-filter (review r12 #2).
        return df.withColumn(
            "__mc", F.explode(F.array_repeat(F.lit(1), mult))
        ).drop("__mc")

    # ---------------- entry point ----------------

    def data(self, params: dict) -> DataFrame:
        """The `/data` endpoint: flattened logic-layer params → one DataFrame."""
        params = dict(params)
        cube = self.resolve_cube(params.pop("cube"))
        lmap = self.level_map(cube)

        drills = params.pop("drilldowns", "")
        meas = params.pop("measures", "")
        time = params.pop("time", None)
        exclude = params.pop("exclude", None)
        # params that name a level are flattened cuts (below); a ``cuts``
        # param is not part of the /data surface. Every other param is an
        # aggregate option, parsed exactly as the aggregate endpoint does.
        level_params = {k: params.pop(k) for k in list(params) if k in lmap}
        params.pop("cuts", None)
        q = Query.from_params(params)

        drill_names = drills if isinstance(drills, list) else [
            d for d in str(drills).split(",") if d
        ]
        for d in drill_names:
            d = d.strip()
            q.drilldowns.append(lmap[d] if d in lmap else LevelName.parse(d))
        q.measures = (
            meas if isinstance(meas, list) else [m.strip() for m in str(meas).split(",") if m]
        )

        if time is not None:
            q.cuts.extend(self._resolve_time(cube, time))

        # level-named params are flattened cuts, grouped per
        # (dimension, level) for the reference's cut-combination fan-out
        # (aggregate.rs:817-916): each dimension contributes ONE of its cut
        # levels per query; the cartesian product across dimensions yields the
        # query fan; dimensions with several cut levels auto-drill the chosen
        # level (aggregate.rs:841-845, 882-893)
        dim_cuts: dict[str, dict[LevelName, Cut]] = {}
        for key, raw in level_params.items():
            for cut in self._resolve_cut_tokens(cube, lmap[key], key, str(raw)):
                per = dim_cuts.setdefault(cut.level_name.dimension, {})
                prev = per.get(cut.level_name)
                if prev is not None:
                    cut = Cut(
                        cut.level_name,
                        tuple(dict.fromkeys(prev.members + cut.members)),
                        prev.mask,
                        prev.for_match,
                    )
                per[cut.level_name] = cut

        multi_dims = {d for d, per in dim_cuts.items() if len(per) > 1}
        if not multi_dims:
            for per in dim_cuts.values():
                q.cuts.extend(per.values())
            df = self._engine_dataframe(cube.name, q)
        else:
            df = self._try_single_plan(cube, q, dim_cuts, multi_dims)
            if df is None:
                df = self._fanout_union(cube, q, dim_cuts, multi_dims)

        # exclude=Level:id1,id2;Level2:... → in-plan row drops (P8)
        if exclude:
            for clause in str(exclude).split(";"):
                name, _, ids = clause.partition(":")
                cut = Cut(
                    lmap[name.strip()],
                    tuple(i.strip() for i in ids.split(",")),
                    Mask.EXCLUDE,
                )
                df = df.filter(self.builder.alias_cut(cube, cut))
        return df
