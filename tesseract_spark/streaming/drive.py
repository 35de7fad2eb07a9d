"""One driver for every streaming query in the package.

Each concern the streaming entry points share is written here once:

- the events file-stream source (``nanosAsLong`` conf, fixed schema,
  timestamp normalisation);
- staging a read-only events file into a directory a ``FileStreamSource``
  can watch, removed again on exit;
- draining a query into the in-memory sink (default trigger — watermark
  no-data batches stay as they are);
- the checkpointed ``availableNow`` drain behind every sink and
  ``foreachBatch`` fold;
- the exactly-once file ledger for non-idempotent folds.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..session import local_df
from .events import EVENTS_SCHEMA, _normalize_ts


def _file_stream(spark: SparkSession, source_dir: str, schema) -> DataFrame:
    """Parquet file stream over ``source_dir`` with a fixed schema."""
    return spark.readStream.schema(schema).parquet(source_dir)


def _events_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """Events file stream with ``ts`` normalised like the batch reader."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _normalize_ts(_file_stream(spark, source_dir, EVENTS_SCHEMA))


@contextlib.contextmanager
def _staged_events(sf_dir: str, copies: int = 1) -> Iterator[str]:
    """Yield a temp dir holding ``copies`` symlinks to ``events.parquet``
    (FileStreamSource needs a directory; the testdata file is read-only).
    The dir is removed on exit: that deletes the links, never their target."""
    stage = tempfile.mkdtemp(prefix="events_stream_")
    try:
        for i in range(copies):
            os.symlink(f"{sf_dir}/events.parquet", f"{stage}/events_{i}.parquet")
        yield stage
    finally:
        shutil.rmtree(stage)


def _drain_to_memory(df: DataFrame, query_name: str, output_mode: str) -> DataFrame:
    """Run ``df`` into the in-memory sink until the source is drained and
    return the sink table."""
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return df.sparkSession.sql(f"SELECT * FROM {query_name}")


def _run_available_now(
    writer: DataStreamWriter, checkpoint_dir: str, query_name: str
) -> StreamingQuery:
    """Start a configured writer checkpointed under ``availableNow`` and
    block until everything available at start is processed."""
    q = (
        writer.option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


def _foreach_batch(
    df: DataFrame,
    fold: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    query_name: str,
    output_mode: str = "append",
) -> StreamingQuery:
    """Drain ``df`` through ``fold(batch_df, batch_id)`` per micro-batch."""
    return _run_available_now(
        df.writeStream.foreachBatch(fold).outputMode(output_mode),
        checkpoint_dir,
        query_name,
    )


def _read_applied_ledger(sess: SparkSession, ledger_dir: str) -> set:
    """Applied-file set of an exactly-once ingest ledger. ONLY the
    missing-table case (first batch: ledger not written yet) may return
    empty — a transient read failure (FS hiccup, corrupt footer,
    permissions) must raise, because treating it as 'first batch' would
    re-apply every already-applied file in the batch: duplicate list rows
    / double-counted sums with no error, the same silent-corruption mode
    ``ann_index._read_ivfpq_meta`` refuses for meta reads."""
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        return {r.path for r in sess.read.parquet(ledger_dir).collect()}
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return set()
        raise


def _fold_new_files(
    spark: SparkSession,
    source_dir: str,
    schema,
    ledger_dir: str,
    checkpoint_dir: str,
    query_name: str,
    apply: Callable[[DataFrame], None],
) -> StreamingQuery:
    """Exactly-once fold of arriving files: each micro-batch passes
    ``apply`` only the rows of files the ledger at ``ledger_dir`` has not
    recorded, then records them.

    File-level bookkeeping survives checkpoint regeneration and batch
    regrouping, where a batch-id ledger would skip or double-apply. The
    ledger append and ``apply`` are two non-transactional writes: a crash
    landing exactly between them re-applies one batch's files on restart —
    the standard limit of file-sink streaming; the production answer is a
    transactional table format (Delta/Iceberg MERGE), not available in this
    environment. Ledger reads are bounded (one row per arrival file)."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        applied = _read_applied_ledger(sess, ledger_dir)
        # inputFiles() is empty on a micro-batch plan; derive the file set
        # from input_file_name() (bounded collect: files per batch)
        named = batch_df.withColumn("__src_file", F.input_file_name())
        files = {r[0] for r in named.select("__src_file").distinct().collect()}
        fresh = sorted(files - applied)
        if not fresh:
            return
        inc = named
        if files - set(fresh):  # partial replay: keep only unapplied files
            inc = named.filter(F.col("__src_file").isin(fresh))
        apply(inc.drop("__src_file"))
        local_df(sess, [(f,) for f in fresh], "path string").write.mode(
            "append"
        ).parquet(ledger_dir)

    return _foreach_batch(
        _file_stream(spark, source_dir, schema), fold, checkpoint_dir, query_name
    )
