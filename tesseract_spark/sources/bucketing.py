"""Bucketed-table utilities: shuffle-free co-located joins.

At 100 TB the dominant cost of fact↔fact joins (e.g. lineitem↔orders) and of
repeated aggregations on the same key is the shuffle. Writing both sides
bucketed (and sort-ordered) by the join key lets Spark plan a SortMergeJoin
with ZERO Exchange — each bucket pair joins locally. This is the write-side
half of SURVEY.md §4's "pre-bucketed fact tables to kill shuffles".

Bucketing requires the session catalog (``saveAsTable``); plain parquet paths
cannot carry bucket metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    num_buckets: int = 32,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (and bucket-sorted) catalog table."""
    writer = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *keys)
    if sort:
        writer = writer.sortBy(*keys)
    writer.saveAsTable(table)


def drop_bucketed(spark: SparkSession, table: str) -> None:
    """DROP the catalog table AND its managed warehouse location if a stale
    directory survived a previous session (a fresh in-memory metastore does
    not know the table, so ``saveAsTable`` refuses the existing location
    with LOCATION_ALREADY_EXISTS instead of overwriting). Local-filesystem
    warehouses only — on a shared metastore the DROP alone is correct."""
    import os
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", ""))
    if wh.scheme in ("", "file"):
        loc = os.path.join(wh.path, table.lower())
        if os.path.isdir(loc):
            shutil.rmtree(loc)
