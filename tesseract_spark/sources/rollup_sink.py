"""Materialized rollup sink: write an aggregated cube result as a
partitioned parquet table and register it for partition-pruned reads.

The reference serializes every result to HTTP (CSV/JSON, SURVEY.md §2.1
S7/S8) and has no materialization story. At 100 TB the standard pattern is
the opposite: heavy rollups are written ONCE as parquet partitioned by the
coarse drill column(s), and dashboard-grain queries against them become
partition-pruned scans that never touch the fact table.

Scale notes:
- partition columns should be LOW-cardinality drills (year, flag, region) —
  one directory per value; high-cardinality partitioning creates a
  small-files explosion.
- the write repartitions by the partition columns first so each partition
  directory is written by one task (no N-tasks × M-partitions file spray).
- readers get pruning for free: a filter on the partition column shows up as
  ``PartitionFilters`` in the scan, skipping whole directories.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_rollup(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet partitioned by ``partition_by``. The
    pre-repartition bounds files-per-partition-dir to one per shuffle
    partition holding that key (typically exactly one)."""
    (
        df.repartition(*partition_by)
        .write.mode(mode)
        .partitionBy(*partition_by)
        .parquet(path)
    )


def rewrite_partitions(df: DataFrame, path: str, partition_by: list[str]) -> None:
    """:func:`write_rollup` with dynamic partition overwrite: only the
    partition directories ``df`` holds are replaced; every other directory
    under ``path`` keeps its files untouched."""
    (
        df.repartition(*partition_by)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def read_rollup(spark: SparkSession, path: str) -> DataFrame:
    """Read a materialized rollup; filters on partition columns prune
    directories (verify via ``PartitionFilters`` in the scan node)."""
    return spark.read.parquet(path)
