"""Table registry: binds schema-model table names to Spark DataFrames.

Plays the role of the reference's database backend connection (its tables live in
ClickHouse/MySQL/Postgres — tesseract-clickhouse/src/lib.rs:23-87); here a table
name resolves, in order, to:

1. an explicitly registered DataFrame / builder (computed views, e.g. a
   denormalized snowflake dimension),
2. a parquet file ``{base_dir}/{name}.parquet`` (the testdata layout),
3. a Spark catalog table ``spark.table(name)``.

Inline tables (schema.rs:441-486) become ``spark.createDataFrame`` with types
from their column definitions — the Spark analog of the reference's
``SELECT … UNION ALL`` literal codegen.

Scale note: dimension tables are read through :meth:`TableRegistry.dim`. It
never collects; it only snapshots computed views — ``cache()`` once per
registry generation, evictable, unpersisted by ``refresh_files()`` — so a
snowflake dimension's joins run once instead of per request. Broadcast hints
are applied by the plan builder at join sites so Catalyst can still pick
sort-merge if a "dimension" turns out huge.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema.model import InlineTable, MemberType, Table

_CAST_TYPES = {
    "text": T.StringType(),
    "nontext": T.LongType(),
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "uint8": T.ShortType(),  # Spark has no unsigned: widen (SURVEY §1.2)
    "uint16": T.IntegerType(),
    "uint32": T.LongType(),
    "uint64": T.LongType(),
    "float32": T.FloatType(),
    "float64": T.DoubleType(),
}


#: scheme -> (jdbc scheme, driver class). The reference dispatches backends
#: on the same URL schemes (tesseract-server/src/db_config.rs:29-74;
#: supported set per main.rs:20: clickhouse, postgres, mysql) — here every
#: dialect rides Spark's JDBC source, so "supporting a backend" is a URL
#: rewrite + driver class, with Spark's JDBCDialects handling quoting and
#: type mapping per dialect. ClickHouse note: the reference speaks native
#: TCP :9000 (tesseract-clickhouse/src/lib.rs:23-38); JDBC uses the HTTP
#: port (:8123) — the URL is passed through as given.
_DIALECTS: dict[str, tuple[str, str]] = {
    "clickhouse": ("jdbc:clickhouse", "com.clickhouse.jdbc.ClickHouseDriver"),
    "mysql": ("jdbc:mysql", "com.mysql.cj.jdbc.Driver"),
    "postgres": ("jdbc:postgresql", "org.postgresql.Driver"),
    "postgresql": ("jdbc:postgresql", "org.postgresql.Driver"),
}


def parse_database_url(url: str) -> tuple[str, dict[str, str], str]:
    """``(jdbc_url, properties, display_url)`` from a reference-style
    database URL — the Spark analog of ``db_config.rs:get_db``:

    - scheme picks the dialect; a scheme-less URL defaults to ClickHouse
      (db_config.rs:41-42: 'Clickhouse is the default if no prefix');
    - ``user:password@host`` credentials move into JDBC properties (Spark's
      JDBC source does not accept them inline for every driver);
    - ``display_url`` redacts the password (db_config.rs:60-71 — 'for
      display purposes only'), so server logs/metadata never leak it.
    """
    scheme, sep, rest = url.partition("://")
    if not sep:
        scheme, rest = "clickhouse", url
    scheme = scheme.lower()
    if scheme not in _DIALECTS:
        raise ValueError(
            f"unsupported database scheme {scheme!r} "
            f"(supported: {sorted(set(_DIALECTS))})"
        )
    jdbc_scheme, driver = _DIALECTS[scheme]
    props = {"driver": driver}
    display_host = rest
    if "@" in rest:
        creds, _, host = rest.rpartition("@")
        user, sep2, password = creds.partition(":")
        # percent-decode credentials (ADVICE r11): a password containing
        # @ / : / % must be URL-encoded in the config URL, but the JDBC
        # driver expects the raw value in properties — the reference's
        # mysql/postgres crates decode the same way via their URL parsers
        props["user"] = unquote(user)
        if sep2:
            props["password"] = unquote(password)
            display_host = f"{user}:*@{host}"
        else:
            display_host = rest
        rest = host
    return f"{jdbc_scheme}://{rest}", props, f"{scheme}://{display_host}"


class TableRegistry:
    def __init__(self, spark: SparkSession, base_dir: str | None = None):
        self.spark = spark
        self.base_dir = base_dir
        #: registered tables: DataFrames, and callables that define a view
        #: (or a JDBC read) and are built by load()
        self._views: dict[str, DataFrame | Callable[[SparkSession], DataFrame]] = {}
        self._no_broadcast: set[str] = set()
        #: bumped on every (re-)registration; consumers that cache plans
        #: derived from registry tables (PlanBuilder's query-plan cache) key
        #: on it so a swapped frame invalidates everything built on the old
        #: one (the aggnav hist/fact swap would otherwise serve stale plans)
        self.generation = 0
        #: what load() built this generation — callable views and parquet
        #: fallback reads, as PLANS (not data). refresh_files() drops them all
        self._built: dict[str, DataFrame] = {}
        #: names registered as a callable computed view (not JDBC): dim()
        #: snapshots these
        self._computed: set[str] = set()
        #: name -> the cached frame dim() serves for a computed view
        self._snapshots: dict[str, DataFrame] = {}
        #: guards every dict/set above and generation: the server handles
        #: /flush (refresh_files) concurrently with GETs whose load()/dim()
        #: calls fill _built/_snapshots (ADVICE r11). Never held across a
        #: py4j call — only around bookkeeping — so there is no deadlock
        #: surface.
        self._lock = threading.Lock()
        #: serializes this registry's cache() and unpersist() calls. Spark
        #: races an uncache against a concurrent cache of the same plan:
        #: the uncache's recache pass can re-add the entry the cache just
        #: added, after its owner unpersisted it, and nothing drops it then
        #: (seen under threads racing dim() against refresh_files()).
        self._cache_lock = threading.Lock()

    def register(
        self,
        name: str,
        df: DataFrame | Callable[[SparkSession], DataFrame],
        broadcastable: bool = True,
    ):
        """Bind ``name`` to a DataFrame, or to a callable that builds one (a
        computed view, served by :meth:`dim` as a per-generation snapshot).
        ``broadcastable=False`` marks a table that scales with the fact
        (e.g. an order-grain denormalized dim): the plan builder then omits the
        broadcast hint and lets AQE pick broadcast vs shuffle at runtime."""
        return self._bind(name, df, broadcastable, computed=callable(df))

    def _bind(
        self,
        name: str,
        df: DataFrame | Callable[[SparkSession], DataFrame],
        broadcastable: bool,
        computed: bool,
    ):
        with self._lock:
            self._views[name] = df
            self._built.pop(name, None)  # explicit registration takes over
            stale = self._snapshots.pop(name, None)
            self.generation += 1
            if computed:
                self._computed.add(name)
            else:
                self._computed.discard(name)
            if not broadcastable:
                self._no_broadcast.add(name)
            else:
                # re-registering must fully reset the flag (ADVICE r9: a
                # sticky _no_broadcast entry survived a broadcastable=True
                # re-register, leaking swap-and-restore state)
                self._no_broadcast.discard(name)
        if stale is not None:
            self._unpersist([stale])
        return self

    def is_broadcastable(self, name: str) -> bool:
        return name not in self._no_broadcast

    def register_jdbc(
        self,
        name: str,
        url: str,
        dbtable: str,
        properties: dict[str, str] | None = None,
        partition_column: str | None = None,
        num_partitions: int = 8,
        lower_bound: int | None = None,
        upper_bound: int | None = None,
        broadcastable: bool = True,
    ):
        """Bind a table to a JDBC source — the Spark-native analog of the
        reference's MySQL/Postgres backends (tesseract-mysql/postgres
        src/lib.rs). Requires the JDBC driver jar on the classpath; pass the
        driver class via ``properties={"driver": ...}``. Exercised end-to-end
        against embedded Derby in ``tests/test_jdbc.py``. ``partition_column``
        + bounds enable parallel partitioned reads; without them the read is
        single-task (fine for dims, wrong for facts)."""

        def load_jdbc(spark: SparkSession) -> DataFrame:
            reader = (
                spark.read.format("jdbc")
                .option("url", url)
                .option("dbtable", dbtable)
            )
            for k, v in (properties or {}).items():
                reader = reader.option(k, v)
            if partition_column is not None:
                reader = (
                    reader.option("partitionColumn", partition_column)
                    .option("numPartitions", str(num_partitions))
                    .option("lowerBound", str(lower_bound))
                    .option("upperBound", str(upper_bound))
                )
            return reader.load()

        # a JDBC read is one scan already: load() builds it, dim() never
        # snapshots it
        return self._bind(name, load_jdbc, broadcastable, computed=False)

    def register_database(
        self,
        name: str,
        url: str,
        dbtable: str,
        properties: dict[str, str] | None = None,
        **jdbc_kwargs,
    ):
        """Bind a table from a reference-style database URL
        (``clickhouse://`` / ``mysql://`` / ``postgres://``, credentials
        inline) — what a user of the reference writes in its server config
        (db_config.rs) works here verbatim. Routes through
        :meth:`register_jdbc`; extra ``properties`` override the parsed
        ones, ``jdbc_kwargs`` pass through (partition_column & bounds for
        parallel fact reads). Returns the redacted display URL."""
        jdbc_url, props, display = parse_database_url(url)
        props.update(properties or {})
        self.register_jdbc(name, jdbc_url, dbtable, properties=props, **jdbc_kwargs)
        return display

    def load(self, table: Table | str) -> DataFrame:
        """The plan of a table: a registered DataFrame as given; a callable
        view or the ``{base_dir}/{name}.parquet`` fallback built once per
        generation and memoized as a PLAN (not data) — so row values stay
        fresh per job, and ``spark.read.parquet``'s driver-side schema round
        trip is not paid per request; else ``spark.table(name)``. A built
        plan pins its file listing: a dataset rewritten underneath a
        long-lived process (compaction, fixture regeneration) needs
        :meth:`refresh_files` — the server's ``/flush`` calls it."""
        name = table.full_name() if isinstance(table, Table) else table
        with self._lock:
            view = self._views.get(name)
            built = self._built.get(name)
            # snapshot the generation BEFORE building: a register() or
            # refresh_files() landing mid-build must not be undone by
            # memoizing the pre-bump build (review r12 #3)
            gen = self.generation
        if built is not None:
            return built
        if isinstance(view, DataFrame):
            return view
        if view is not None:
            built = view(self.spark)  # plan build only — outside the lock
        elif self.base_dir is not None:
            try:
                built = self.spark.read.parquet(f"{self.base_dir}/{name}.parquet")
            except Exception:
                return self.spark.table(name)
        else:
            return self.spark.table(name)
        with self._lock:
            if self.generation == gen:
                return self._built.setdefault(name, built)
        return built  # served once, not memoized: a bump raced the build

    def dim(self, table: Table | str) -> DataFrame:
        """A table read as a DIMENSION. A computed view (a callable passed
        to :meth:`register`) is snapshotted: its first call in a generation
        ``cache()``-s the built view — lazily, no Spark job runs here — so
        the first query to scan it fills Spark's block manager
        (MEMORY_AND_DISK, evictable) and every later query in the
        generation reads the cached columns instead of re-running the
        view's joins. :meth:`refresh_files` and re-registering the name
        unpersist the snapshot. Parquet, JDBC and DataFrame-registered
        tables are single scans already and come from :meth:`load`; fact
        reads always use :meth:`load`, so a fact view is never copied, and
        so do cut key sets, which need the view's scans to push into.
        Spark keys its cache by plan, so registries over the same files
        share one cached copy (unpersisting it costs a recompute only)."""
        name = table.full_name() if isinstance(table, Table) else table
        with self._lock:
            snap = self._snapshots.get(name)
            computed = name in self._computed
            gen = self.generation
        if snap is not None:
            return snap
        if not computed:
            return self.load(name)
        # cache the view under an always-true filter, not as its own plan:
        # Spark substitutes a cached plan wherever it (or a projection of
        # it) recurs, and only dim() reads should get the snapshot. A read
        # of the view itself — a cut's key set, a fact read — keeps its
        # scans and the predicates Catalyst pushes into them.
        view = self.load(name)
        with self._cache_lock:
            snap = view.filter(F.lit(True)).cache()
        with self._lock:
            if self.generation == gen:
                return self._snapshots.setdefault(name, snap)
        # a bump raced the build: serve the plan once, keep no cache of it
        self._unpersist([snap])
        return snap

    def _unpersist(self, snapshots: list[DataFrame]) -> None:
        with self._cache_lock:
            for snap in snapshots:
                snap.unpersist(blocking=False)

    def refresh_files(self) -> None:
        """Start a new generation: drop every plan :meth:`load` built
        (parquet reads and callable views, which pin their file listing at
        first build) and unpersist every :meth:`dim` snapshot, so the next
        query re-reads the dataset as it is on disk now — a rewrite
        (compaction, reload) would otherwise raise FileNotFoundException,
        or silently miss appended files, until process restart. The
        generation bump makes downstream plan caches rebuild. Frames
        registered as DataFrames are NOT touched (their owner controls
        their lifecycle). Wired into the server's ``GET /flush``."""
        with self._lock:
            self._built.clear()
            stale = list(self._snapshots.values())
            self._snapshots.clear()
            self.generation += 1
        self._unpersist(stale)

    def inline_table(self, inline: InlineTable) -> DataFrame:
        """InlineTable rows → typed DataFrame (reference codegen: schema.rs:450-485)."""
        fields = []
        for cd in inline.column_definitions:
            if cd.key_column_type:
                dtype = _CAST_TYPES.get(cd.key_column_type.lower(), T.StringType())
            elif cd.key_type is MemberType.NONTEXT:
                dtype = T.LongType()
            else:
                dtype = T.StringType()
            fields.append(T.StructField(cd.name, dtype, True))
        schema = T.StructType(fields)
        rows = []
        for row in inline.rows:
            vals = []
            for f_ in fields:
                v = row.get(f_.name)
                if v is None:
                    vals.append(None)
                elif isinstance(f_.dataType, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
                    vals.append(int(v))
                elif isinstance(f_.dataType, (T.FloatType, T.DoubleType)):
                    vals.append(float(v))
                else:
                    vals.append(str(v))
            rows.append(tuple(vals))
        from ..session import local_df

        return local_df(self.spark, rows, schema)


def testdata_registry(spark: SparkSession, sf_dir: str) -> TableRegistry:
    """Registry over the driver's TPC-H-ish parquet tables (TESTDATA.md), with the
    computed views the fixture cube needs (FIXTURES.md §B):

    - ``lineitem_enriched``: lineitem + derived ``l_shipyear``/``l_shipmonth``
      degenerate time levels (driver's columns for the Ship Year / Ship Month dims)
    - ``order_geo``: denormalized customer-geography dimension keyed by
      ``o_orderkey`` (snowflake orders→customer→nation→region, so the cube
      sees a single dimension table; at scale this is a dim-side-only join
      of three small tables — broadcast all the way). It is a computed view,
      so :meth:`TableRegistry.dim` serves it as a snapshot: flattened once
      per registry generation, on the first query that scans it, and
      rebuilt after ``refresh_files()``.

    Both views are callables, so ``refresh_files()`` rebuilds them over the
    files on disk at their next :meth:`TableRegistry.load`.
    """
    reg = TableRegistry(spark, sf_dir)

    def lineitem_enriched(s: SparkSession) -> DataFrame:
        li = s.read.parquet(f"{sf_dir}/lineitem.parquet")
        return li.withColumns(
            {
                "l_shipyear": F.year("l_shipdate"),
                "l_shipmonth": F.month("l_shipdate"),
            }
        )

    def order_geo(s: SparkSession) -> DataFrame:
        orders = s.read.parquet(f"{sf_dir}/orders.parquet")
        customer = s.read.parquet(f"{sf_dir}/customer.parquet")
        nation = s.read.parquet(f"{sf_dir}/nation.parquet")
        region = s.read.parquet(f"{sf_dir}/region.parquet")
        return (
            orders.select("o_orderkey", "o_custkey")
            .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
                  F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
            .select("o_orderkey", "n_nationkey", "n_name", "r_regionkey", "r_name")
        )

    def score_samples(s: SparkSession) -> DataFrame:
        # 12-row literal fact for the score_bands Custom-template cube
        # (fixtures.py): deterministic, sf-independent, and small enough
        # that the cube's buffering exact-percentile measure is
        # structurally bounded. Values chosen so p50/p90 exercise both
        # interpolated (bands A, B) and tie-degenerate (band C) branches.
        rows = [
            (1, "A", 1.5),
            (2, "A", 2.5),
            (3, "A", 3.5),
            (4, "A", 4.5),
            (5, "A", 10.0),
            (6, "B", 10.0),
            (7, "B", 20.0),
            (8, "B", 30.0),
            (9, "B", 40.0),
            (10, "C", 5.0),
            (11, "C", 5.0),
            (12, "C", 5.0),
        ]
        return s.createDataFrame(
            rows, "sample_id long, band string, score double"
        )

    reg.register("lineitem_enriched", lineitem_enriched)
    reg.register("score_samples", score_samples)
    # order_geo has one row per ORDER — it scales with the fact table, so never
    # force-broadcast it; at 100 TB this join must be free to go sort-merge
    # (ideally over orderkey-bucketed tables), and AQE may still choose
    # broadcast at small scale factors
    reg.register("order_geo", order_geo, broadcastable=False)
    return reg
