"""Streaming ingest → OLAP cube: the end-to-end streaming-warehouse path.

Extension beyond the reference (its ingest is whatever the DBA loads into
ClickHouse): Structured Streaming reads an events source, derives the
degenerate time levels the cube model expects, and appends to a parquet sink
(checkpointed, exactly-once per file-sink semantics). The sink directory is
then registered as a cube fact table, so the full aggregate/logic-layer surface
runs over continuously-ingested data.

At production scale the sink would be date-partitioned
(``partitionBy(event_date)``) so cube time-cuts prune partitions at the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema.model import Schema
from ..schema.parse import schema_from_json
from ..sources.rollup_sink import rewrite_partitions
from .drive import (
    _events_stream,
    _file_stream,
    _fold_new_files,
    _foreach_batch,
    _read_applied_ledger,  # noqa: F401 — re-exported for existing importers
    _run_available_now,
)


def _derive(events: DataFrame) -> DataFrame:
    return events.withColumns(
        {
            "event_year": F.year("ts"),
            "event_month": F.month("ts"),
            "event_date": F.to_date("ts"),
        }
    )


def ingest_events(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    query_name: str = "events_ingest",
):
    """Start (and drain, for the local smoke path) a streaming ingest from a
    parquet events source into a parquet sink with derived time levels."""
    return _run_available_now(
        _derive(_events_stream(spark, source_dir))
        .writeStream.format("parquet")
        .option("path", sink_dir),
        checkpoint_dir,
        query_name,
    )


EVENTS_CUBE_JSON = {
    "name": "events_streamed",
    "cubes": [
        {
            "name": "events_cube",
            "table": {"name": "events_ingested"},
            "dimensions": [
                {
                    "name": "Event Type",
                    "foreign_key": None,
                    "hierarchies": [
                        {
                            "name": "Event Type",
                            "levels": [
                                {
                                    "name": "Event Type",
                                    "key_column": "event_type",
                                    "key_type": "text",
                                }
                            ],
                        }
                    ],
                },
                {
                    "name": "Event Date",
                    "foreign_key": None,
                    "type": "time",
                    "hierarchies": [
                        {
                            "name": "Event Date",
                            "levels": [
                                {"name": "Year", "key_column": "event_year"},
                                {"name": "Month", "key_column": "event_month"},
                            ],
                        }
                    ],
                },
                {
                    "name": "User",
                    "foreign_key": None,
                    "hierarchies": [
                        {
                            "name": "User",
                            "levels": [{"name": "User", "key_column": "user_id"}],
                        }
                    ],
                },
            ],
            "measures": [
                {"name": "Events", "column": "event_id", "aggregator": "count"},
                {"name": "Total Value", "column": "value", "aggregator": "sum"},
                {"name": "Users", "column": "user_id", "aggregator": "distinct_count"},
            ],
        }
    ],
}


def events_cube_schema() -> Schema:
    return schema_from_json(EVENTS_CUBE_JSON)


def incremental_rollup(
    spark: SparkSession,
    source_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
    query_name: str = "events_rollup_upsert",
):
    """Continuously-maintained materialized rollup: stream → hourly windowed
    aggregate → date-partitioned parquet refresh via ``foreachBatch`` +
    dynamic partition overwrite.

    With ``complete`` output each micro-batch emits the full current window
    set from the streaming state store and rewrites the partitions it covers
    — idempotent (re-running a batch converges to identical partition
    content) and late data within the watermark lands on the next refresh.
    Readers (``sources/rollup_sink.read_rollup``) get partition-pruned
    dashboards over an always-fresh aggregate without rescanning raw events.

    Scale note: complete mode carries all windows in state, which is fine for
    dashboard-horizon rollups (days×types of groups) but not unbounded
    history; the unbounded path is ``update`` output merged into a
    table format with row-level MERGE (Delta/Iceberg — not in this
    environment), since overwriting a whole day's partition from an
    update-mode batch would drop that day's unchanged windows."""
    from .events import windowed_agg

    stream = _events_stream(spark, source_dir).withWatermark("ts", "2 hours")
    agg = windowed_agg(stream).withColumn("window_date", F.to_date("window_start"))

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        rewrite_partitions(batch_df, rollup_dir, ["window_date"])

    return _foreach_batch(agg, upsert, checkpoint_dir, query_name, "complete")


def grain_refresh_stream(
    navigator,
    grain,
    source_dir: str,
    checkpoint_dir: str,
    schema,
    query_name: str = "grain_refresh",
):
    """Continuously fold streaming fact increments into an aggregate-
    navigation rollup (``plans/aggnav.MaterializedGrain``): each micro-batch
    runs ``navigator.refresh`` — partial-preserving merge, only touched
    partition directories rewritten — so dashboard queries served from the
    rollup stay current as facts arrive.

    Exactly-once: ``refresh`` is a non-idempotent merge (replaying data
    would double-count sums), so applied arrival FILES are recorded in a
    ledger at ``{grain.path}/refresh_ledger`` and excluded from every batch
    (``drive._fold_new_files``).

    Drains what is available at start and returns, mirroring
    ``incremental_rollup``."""
    return _fold_new_files(
        navigator.builder.spark,
        source_dir,
        schema,
        f"{grain.path}/refresh_ledger",
        checkpoint_dir,
        query_name,
        lambda inc: navigator.refresh(grain, inc),
    )


def ivfpq_ingest_stream(
    spark,
    index_path: str,
    source_dir: str,
    checkpoint_dir: str,
    schema,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_name: str = "ivfpq_ingest",
):
    """Continuously fold arriving embedding files into a built IVF-PQ index
    (``ann_index.append_to_ivfpq_index``: frozen centroids + codebooks, one
    encode pass per micro-batch, partitioned append — existing list files
    never rewritten), so ANN serving stays current as vectors arrive.

    Exactly-once by the same file-level ledger as
    :func:`grain_refresh_stream` (the append is non-idempotent — replaying
    a file would duplicate its list rows and surface phantom neighbors):
    applied arrival files are recorded at ``{index_path}/ingest_ledger``
    and excluded from every batch, so the fold survives checkpoint
    regeneration and batch regrouping. Drains what is available at start
    and returns."""
    from ..operators.ann_index import append_to_ivfpq_index

    return _fold_new_files(
        spark,
        source_dir,
        schema,
        f"{index_path}/ingest_ledger",
        checkpoint_dir,
        query_name,
        lambda inc: append_to_ivfpq_index(
            inc, index_path, id_col=id_col, vec_col=vec_col
        ),
    )


def heavy_hitters_refresh_stream(
    spark,
    summary_path: str,
    source_dir: str,
    checkpoint_dir: str,
    schema,
    fine_cols: list[str],
    member_col: str,
    capacity: int = 64,
    query_name: str = "hh_refresh",
):
    """Keep a frequent-members summary store
    (:func:`~tesseract_spark.operators.sketch.heavy_hitters_rollup` rows,
    parquet partitioned by the fine grain) current as raw rows arrive in
    ``source_dir``.

    A grain's summary is a TRUNCATED exact count table — not mergeable
    within the grain — so per-batch summaries of the same grain must never
    be unioned. Each micro-batch therefore RECOUNTS every grain the batch
    touched from the FULL raw store and dynamic-partition-overwrites just
    those grain directories (the aggnav refresh shape: untouched grains'
    files are never rewritten). Because a recount is a pure function of the
    raw store, the fold is IDEMPOTENT — replaying a batch or regenerating
    the checkpoint re-derives the same summaries, so this stream needs no
    applied-files ledger (contrast :func:`grain_refresh_stream` /
    :func:`ivfpq_ingest_stream`, whose merges/appends are not idempotent).
    Serving stays :func:`~tesseract_spark.operators.sketch.merge_heavy_hitters`
    over ``spark.read.parquet(summary_path)``.

    Drains what is available at start and returns."""
    from ..operators.sketch import heavy_hitters_rollup

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        # touched grains as a left-semi PROBE, not an unrolled OR chain: a
        # backlog batch can touch thousands of grains (the
        # first drain over an existing store), and a per-grain predicate
        # would pay the superlinear driver plan tax the quantile fold
        # rewrite documents; the semi-join is constant plan size. eqNullSafe
        # so NULL grain keys are recounted like any other (a bare == drops
        # them from the raw read while the rollup groups them — silent
        # stream≠batch divergence).
        touched = batch_df.select(
            *[F.col(c).alias(f"__t_{i}") for i, c in enumerate(fine_cols)]
        ).distinct()
        if not touched.limit(1).count():
            return
        cond = None
        for i, c in enumerate(fine_cols):
            term = F.col(c).eqNullSafe(F.col(f"__t_{i}"))
            cond = term if cond is None else (cond & term)
        full = (
            sess.read.schema(schema)
            .parquet(source_dir)
            .join(F.broadcast(touched), cond, "leftsemi")
        )
        roll = heavy_hitters_rollup(full, fine_cols, member_col, capacity)
        rewrite_partitions(roll, summary_path, fine_cols)

    return _foreach_batch(
        _file_stream(spark, source_dir, schema), fold, checkpoint_dir, query_name
    )
