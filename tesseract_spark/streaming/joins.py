"""Stream-stream interval join: the streaming counterpart of
:mod:`..operators.rangejoin`.

Two live event streams joined on key + a bounded time interval. Structured
Streaming keeps each side's rows in state ONLY until the other side's
watermark passes the interval bound, so state is O(events per watermark
horizon) — the property that lets the join run forever on an unbounded
stream. The batch range join computes the same pairs on at-rest data; the
equivalence test pins both to each other.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .drive import _drain_to_memory, _events_stream, _staged_events
from .events import _normalize_ts


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    window_seconds: int,
    watermark: str = "2 hours",
) -> DataFrame:
    """Inner interval join of two STREAMING DataFrames: pairs with equal
    ``key`` and ``right.ts in [left.ts - window, left.ts]``. Both sides get
    event-time watermarks, which is what bounds the join state."""
    l = (
        left.withWatermark("ts", watermark)
        .select(F.col(key).alias("l_key"), F.col("ts").alias("l_ts"),
                F.col("event_id").alias("l_event_id"))
    )
    r = (
        right.withWatermark("ts", watermark)
        .select(F.col(key).alias("r_key"), F.col("ts").alias("r_ts"),
                F.col("value").alias("r_value"))
    )
    return l.join(
        r,
        F.expr(
            f"l_key = r_key AND r_ts >= l_ts - INTERVAL {window_seconds} SECONDS"
            " AND r_ts <= l_ts"
        ),
        "inner",
    )


def stream_interval_join_demo(
    spark: SparkSession,
    sf_dir: str,
    window_seconds: int = 3600,
    query_name: str = "events_interval_join",
) -> DataFrame:
    """Run purchases⋈clicks-in-preceding-hour as a REAL stream-stream join
    over the file-streamed events source; returns the joined pairs from the
    in-memory sink."""
    with _staged_events(sf_dir) as stage:
        stream = _events_stream(spark, stage)
        purchases = stream.filter(F.col("event_type") == "purchase")
        clicks = stream.filter(F.col("event_type") == "click")
        joined = stream_interval_join(purchases, clicks, "user_id", window_seconds)
        return _drain_to_memory(joined, query_name, "append")


def stream_static_enrich_demo(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "events_enriched",
) -> DataFrame:
    """Stream-static join: the live event stream enriched with a static
    per-user profile (here: historical mean event value from the at-rest
    data). The static side is broadcast per micro-batch — no stream state at
    all, the standard dimension-enrichment shape for streaming cube ingest."""
    with _staged_events(sf_dir) as stage:
        # the stream sets nanosAsLong, which the static profile read needs too
        stream = _events_stream(spark, stage)
        # exact decimal numerator: double avg is partitioning-order dependent,
        # and the equivalence test recomputes this profile independently
        profile = (
            _normalize_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
            .groupBy("user_id")
            .agg(
                (
                    F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
                    / F.count("value")
                ).alias("user_mean_value")
            )
        )
        enriched = stream.join(F.broadcast(profile), "user_id", "left").select(
            "event_id", "user_id", "value", "user_mean_value"
        )
        return _drain_to_memory(enriched, query_name, "append")
