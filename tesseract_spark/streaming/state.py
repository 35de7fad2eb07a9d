"""Custom stateful streaming: ``applyInPandasWithState`` per-key state.

The reference has no stateful streaming at all (SURVEY.md §2.8 — its
"streaming" is chunked HTTP transfer); this is the engine's extension path for
operators whose state Spark's built-in windowed/session aggregates cannot
express. The demonstrator keeps per-user running stats (event count, value
total, last-seen timestamp) in explicit group state and emits an updated row
per user per micro-batch.

Design notes for 100 TB streams:
- state is keyed by ``user_id`` → partitioned across executors by the
  stateful-operator shuffle; each key's state is O(1) floats, so state-store
  size grows with distinct users only, not with events;
- the update function is Arrow-batched per key-group (pandas), not per row;
- the SAME result is computable in batch as one groupBy — asserted in tests
  (``user_stats_batch`` ≡ final streaming state), which is also the recovery
  path for state bootstrapping.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .drive import _drain_to_memory, _events_stream

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("last_ts", T.TimestampType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("last_ts", T.TimestampType()),
    ]
)


def make_update_user_stats():
    """Build the per-group state-update function.

    Returned from a factory (→ cloudpickle serializes it BY VALUE) rather than
    defined at module top level (→ serialized by reference, which breaks on
    executors whose Python workers can't import this package — e.g. a driver
    that added the repo to ``sys.path`` manually)."""

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            n, total, last = state.get
        else:
            n, total, last = 0, 0.0, None
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            batch_last = pdf["ts"].max()
            if last is None or batch_last > last:
                last = batch_last
        state.update((n, total, last))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_value": [total],
                "last_ts": [last],
            }
        )

    return update


def user_stats_batch(events: DataFrame) -> DataFrame:
    """Batch equivalent of the streaming state: one groupBy."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
        F.max("ts").alias("last_ts"),
    )


def user_stats_streaming(
    spark: SparkSession,
    source_dir: str,
    query_name: str = "user_stats_stream",
) -> DataFrame:
    """Run the stateful operator as a real streaming query over a parquet file
    stream; returns the latest emitted row per user from the in-memory sink."""
    stream = _events_stream(spark, source_dir)
    updated = stream.groupBy("user_id").applyInPandasWithState(
        make_update_user_stats(),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _latest_per_user(_drain_to_memory(updated, query_name, "update"))


def _latest_per_user(sink: DataFrame) -> DataFrame:
    """The update-mode memory sink accumulates one row per user per
    micro-batch; the latest (max n_events) row per user is the final state."""
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        sink.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def make_user_stats_processor():
    """StatefulProcessor for Spark 4's ``transformWithStateInPandas`` — the
    successor API to ``applyInPandasWithState`` (typed per-key state handles,
    timers, TTL, and state evolution). Same semantics as
    :func:`make_update_user_stats`, expressed as a ValueState of
    (n_events, total_value, last_ts). Built by a factory so cloudpickle ships
    the class by value (executors don't import this package).

    Runtime requirement: the TWS Python runtime talks protobuf to the JVM
    state server (``pyspark.sql.streaming.proto``), so ``google.protobuf``
    must be importable by the Python workers; the equivalence test finds a
    runtime and, when the interpreter itself lacks one, runs in a subprocess
    with it on ``PYTHONPATH``."""
    import pandas as _pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql import types as _T

    state_schema = _T.StructType(
        [
            _T.StructField("n_events", _T.LongType()),
            _T.StructField("total_value", _T.DoubleType()),
            _T.StructField("last_ts", _T.TimestampType()),
        ]
    )

    class UserStatsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("stats", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            (user_id,) = key
            if self._state.exists():
                n, total, last = self._state.get()
            else:
                n, total, last = 0, 0.0, None
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                batch_last = pdf["ts"].max()
                if last is None or batch_last > last:
                    last = batch_last
            self._state.update((n, total, last))
            yield _pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [n],
                    "total_value": [total],
                    "last_ts": [last],
                }
            )

        def close(self) -> None:
            pass

    return UserStatsProcessor()


def user_stats_streaming_tws(
    spark: SparkSession,
    source_dir: str,
    query_name: str = "user_stats_tws",
) -> DataFrame:
    """The same per-user running stats through ``transformWithStateInPandas``
    (RocksDB-backed state store — the production state backend; the old API's
    HDFS-backed store holds state on-heap)."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = _events_stream(spark, source_dir)
    updated = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=make_user_stats_processor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    return _latest_per_user(_drain_to_memory(updated, query_name, "update"))
