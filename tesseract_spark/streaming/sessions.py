"""Sessionization over event streams.

Batch form: the classic lag-gap algorithm — a new session starts when the gap
to the previous event of the same user exceeds the threshold; session id is the
running count of session starts (two window functions, one shuffle on user_id).
Fully SQL-expressible → DuckDB oracle.

Streaming form: the SAME grouping via Spark's native ``session_window`` (merging
gap-windows with watermarked state), which implements identical semantics —
asserted equal to the batch algorithm in tests. For custom per-session state
beyond counts/sums, swap the aggregation for ``applyInPandasWithState``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from .drive import _drain_to_memory, _events_stream, _staged_events
from .events import read_events


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Per-user sessions: (user_id, session_start, session_end, n_events,
    total_value). Lag-gap + running-sum windows at user grain."""
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_sec = gap_minutes * 60
    prev_ts = F.lag("ts").over(w)
    # cast-to-double keeps sub-second precision (unix_timestamp truncates,
    # which would disagree with both session_window and DuckDB's epoch())
    is_new = F.when(
        prev_ts.isNull()
        | ((F.col("ts").cast("double") - prev_ts.cast("double")) >= gap_sec),
        F.lit(1),
    ).otherwise(F.lit(0))
    with_session = events.withColumn("__new", is_new).withColumn(
        "__session", F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        with_session.groupBy("user_id", "__session")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"),
        )
        .drop("__session")
    )


def sessionize_oracle_sql(table: str = "events", gap_minutes: int = 30) -> str:
    gap_sec = gap_minutes * 60
    return f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) >= {gap_sec}
                  THEN 1 ELSE 0 END AS is_new
      FROM {table}
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
      SELECT user_id, ts, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) AS session_end,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM sessions GROUP BY user_id, session_id
    """


def batch_sessionize(spark: SparkSession, sf_dir: str, gap_minutes: int = 30) -> DataFrame:
    return sessionize(read_events(spark, sf_dir), gap_minutes)


def streaming_sessionize(
    spark: SparkSession,
    sf_dir: str,
    gap_minutes: int = 30,
    query_name: str = "sessions_stream",
) -> DataFrame:
    """Native session_window over a real streaming query (complete mode via the
    in-memory sink; at production scale use append mode + watermark closure)."""
    with _staged_events(sf_dir) as stage:
        stream = _events_stream(spark, stage).withWatermark("ts", "2 hours")
        agg = (
            stream.groupBy(
                F.session_window("ts", f"{gap_minutes} minutes").alias("w"), "user_id"
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"),
                F.min("ts").alias("session_start"),
                F.max("ts").alias("session_end"),
            )
            .select("user_id", "session_start", "session_end", "n_events", "total_value")
        )
        return _drain_to_memory(agg, query_name, "complete")
