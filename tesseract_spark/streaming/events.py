"""Structured Streaming over an events-shaped source.

The reference has no streaming computation — its "streaming" is chunked HTTP
transfer of finished results (format_stream.rs; SURVEY.md §2.8). This module is
the extension path: tumbling-window aggregation with watermarked late-data
handling over ``(event_id, ts, user_id, event_type, value, props)``.

``windowed_agg`` is written against a generic DataFrame so the SAME plan runs
in batch mode (for the DuckDB oracle — window start = epoch-aligned bucket,
identical to DuckDB's ``time_bucket``) and in streaming mode over a file
stream; ``run_streaming_demo`` drives it through a real streaming query using
the in-memory sink (``drive``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ts is timestamp[us] without UTC-adjust metadata in the parquet file, which
# Spark 4 infers as TIMESTAMP_NTZ; _normalize_ts casts it to session-local
# TIMESTAMP (the engine pins the session timezone to UTC, so wall-clock values
# are preserved and match DuckDB's naive-timestamp reads bit-for-bit). Older
# testdata vintages stored INT64 TIMESTAMP(NANOS); both branches are kept.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _normalize_ts(df: DataFrame) -> DataFrame:
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        # legacy nanos vintage: integer DIV — double math would lose precision at 1e18
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if isinstance(dt, T.TimestampNTZType):
        # NTZ → TIMESTAMP is a wall-clock-preserving reinterpretation under the
        # engine's pinned UTC session timezone; downstream arithmetic
        # (cast-to-double epoch seconds, window(), unix_timestamp) needs LTZ
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read events.parquet under ANY caller-supplied session.

    Pins the UTC session timezone (the NTZ→TIMESTAMP cast in _normalize_ts
    reinterprets wall clock in session tz, and external harnesses pass their
    own SparkSession) plus ``nanosAsLong`` for legacy nanos-vintage files —
    both are runtime-settable SQL confs."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _normalize_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    # single-row-group file => one scan partition; spread so scan-side work
    # (JSON prop parsing, timestamp math) uses every core. No-op when the
    # source already yields enough partitions (any real multi-file table).
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        df = df.repartition(target)
    return df


def windowed_agg(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Tumbling-window event rollup: count + sum(value) + distinct users per
    (window, event_type). Works identically on batch and streaming inputs."""
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact decimal sum: plain double addition is partitioning-order
            # dependent (the single-row-group scan used to hide this); the
            # data has 2-decimal values so scale 6 is exact and tiny
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
            "approx_users",
        )
    )


def windowed_agg_oracle_sql(table: str = "events", window_hours: int = 1) -> str:
    # approx_count_distinct is sketch-based and engine-specific — excluded from
    # the oracle columns; count/sum are exact.
    return f"""
    SELECT time_bucket(INTERVAL '{window_hours} hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM {table}
    GROUP BY 1, 2
    """


def batch_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed_agg(read_events(spark, sf_dir)).drop("approx_users")


def sliding_windowed_agg(
    events: DataFrame, window: str = "2 hours", slide: str = "1 hour"
) -> DataFrame:
    """Sliding-window rollup: each event lands in window/slide overlapping
    windows (Spark materializes the window copies — same shape the DuckDB
    oracle mirrors with an unnest of the member bucket starts)."""
    return (
        events.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def sliding_windowed_agg_oracle_sql(table: str = "events") -> str:
    # 2h windows sliding by 1h: an event at t belongs to starts
    # {floor_1h(t), floor_1h(t) − 1h}; both engines align buckets to the epoch
    return f"""
    SELECT ws AS window_start, event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM (
      SELECT unnest([time_bucket(INTERVAL '1 hour', ts),
                     time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour']) AS ws,
             event_type, value
      FROM {table})
    GROUP BY 1, 2
    """


def batch_sliding_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_windowed_agg(read_events(spark, sf_dir))


def run_streaming_demo(
    spark: SparkSession, sf_dir: str, query_name: str = "events_rollup"
) -> DataFrame:
    """Drive the SAME windowed plan as a real Structured Streaming query over
    the parquet source (file-stream), with a 2-hour watermark for late data;
    returns the completed result from the in-memory sink."""
    from .drive import _drain_to_memory, _events_stream, _staged_events

    with _staged_events(sf_dir) as stage:
        stream = _events_stream(spark, stage).withWatermark("ts", "2 hours")
        return _drain_to_memory(windowed_agg(stream), query_name, "complete")
