"""Streaming deduplication: exactly-once event delivery from an at-least-once
source.

The reference has no streaming at all (SURVEY.md §2.8); this is the standard
ingestion guard an event pipeline needs in front of the cube: upstream
delivery is usually at-least-once (file redelivery, producer retries), and
``dropDuplicatesWithinWatermark`` gives exactly-once semantics with BOUNDED
state — a key's dedup record is dropped once the watermark passes it, so
state is O(events per watermark window), not O(all history). That bound is
what makes the operator viable on an unbounded 100 TB/day stream; plain
``dropDuplicates`` on a stream would grow state forever.

``streaming_dedup_demo`` proves the semantics end-to-end: the file stream
stages the SAME events file twice (simulated redelivery), and the
deduplicated stream must equal the batch distinct of one copy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .drive import _drain_to_memory, _events_stream, _staged_events


def dedup_stream(events: DataFrame, key_cols: list[str], watermark: str = "2 hours") -> DataFrame:
    """Exactly-once filter over an at-least-once stream: first arrival of each
    key wins; redeliveries within the watermark horizon are dropped; state for
    a key is released once the watermark passes its event time."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(key_cols)


def streaming_dedup_demo(
    spark: SparkSession, sf_dir: str, query_name: str = "events_dedup"
) -> DataFrame:
    """Run the dedup over a file stream that delivers every event TWICE
    (two staged copies of events.parquet), returning the deduplicated result
    from the in-memory sink."""
    with _staged_events(sf_dir, copies=2) as stage:
        deduped = dedup_stream(_events_stream(spark, stage), ["event_id"])
        return _drain_to_memory(deduped, query_name, "append")
