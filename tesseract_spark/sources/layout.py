"""Physical data layout: multi-dimensional clustering and file compaction.

The two layout levers partitioning and bucketing don't cover:

- :func:`zorder_write` — Z-order (Morton) clustering (Morton 1966; the
  public technique behind Delta Lake's ``OPTIMIZE ZORDER BY`` and
  Databricks'/Iceberg's multi-dimensional clustering): interleave the bits
  of rank-encoded clustering columns and range-partition + sort the data by
  the interleaved value before writing. A file sorted by ``(a, b)``
  lexicographically prunes row groups on ``a`` but scatters ``b`` across
  every file; Z-ordering keeps BOTH columns' min/max spans narrow per row
  group, so parquet footer stats prune selective cuts on EITHER column —
  at 100 TB, the difference between scanning one file and scanning the
  table for the second predicate.
- :func:`compact_partitions` — rewrite a partitioned dataset's small files
  into ~``target_rows``-row files per partition (the streaming ingest
  paths append one file per micro-batch; a year of micro-batches is a
  file-listing and task-scheduling tax no query should pay).

Layout never changes VALUES — every function here is content-preserving by
construction and tested as such; the benefit is asserted on parquet
row-group statistics, not timings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: bits per clustering column in the interleaved key. 16 bits → 65,536
#: rank buckets per column; 2-3 clustering columns keep the interleaved
#: key within a long's 63 value bits (4 columns would touch the sign bit —
#: zorder_write rejects it; drop ``bits`` to 15 to cluster on 4).
ZORDER_BITS = 16


def _rank_encodes(df: DataFrame, cols: list[str], bits: int) -> list[Column]:
    """Map each column into ``[0, 2^bits)`` preserving order — the
    per-column coordinates of the Morton key.

    Numeric/date columns: min-max linear scaling. ONE fused aggregate
    collects every column's extremes (k separate aggregates would scan the
    input k times — at the 100 TB regime this module targets, that is the
    build cost). Exactly the equi-width bucket form the quantile rank path
    uses: placement affects clustering QUALITY only, never correctness, so
    a skewed column degrades pruning, not results. NULLs map to bucket 0
    (they carry no range information)."""
    def src(c: str) -> Column:
        # temporal types don't cast to DOUBLE directly — order-preserving
        # microsecond epochs do (TIMESTAMP_NTZ reads in the session zone,
        # fine: only the ORDER matters for clustering)
        dt = df.schema[c].dataType.typeName()
        if dt in ("timestamp", "timestamp_ntz", "date"):
            return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
        return F.col(c).cast("double")

    aggs = []
    for c in cols:
        aggs.append(F.min(src(c)).alias(f"__lo_{c}"))
        aggs.append(F.max(src(c)).alias(f"__hi_{c}"))
    row = df.agg(*aggs).collect()[0]
    n = (1 << bits) - 1
    out = []
    for c in cols:
        lo = row[f"__lo_{c}"] if row[f"__lo_{c}"] is not None else 0.0
        hi = row[f"__hi_{c}"] if row[f"__hi_{c}"] is not None else 0.0
        if hi <= lo:
            out.append(F.lit(0).cast("long"))
            continue
        scaled = F.floor((src(c) - F.lit(lo)) / F.lit(hi - lo) * n)
        out.append(
            F.coalesce(
                F.least(F.lit(n), F.greatest(F.lit(0), scaled)), F.lit(0)
            ).cast("long")
        )
    return out


def _interleave(coords: list[Column], bits: int) -> Column:
    """Morton interleave: bit ``b`` of coordinate ``i`` lands at position
    ``b * len(coords) + i`` of the key. A constant-size expression — one
    shift/mask/or chain of ``bits × len(coords)`` terms over long
    arithmetic, all whole-stage-codegen'd."""
    z = F.lit(0).cast("long")
    k = len(coords)
    for b in range(bits):
        for i, c in enumerate(coords):
            bit = F.shiftright(c, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * k + i))
    return z


def zorder_write(
    df: DataFrame,
    cols: list[str],
    path: str,
    n_files: int = 16,
    bits: int = ZORDER_BITS,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet clustered on the Z-order of ``cols``:
    rank-encode each clustering column, interleave the bits into a Morton
    key, ``repartitionByRange`` on it (each output file owns a contiguous
    Z-range) and sort within partitions so row-group min/max stats are
    tight for EVERY clustering column. One extra shuffle over the write the
    caller was already paying — the read-side pruning is free forever
    after. The Z key is dropped before writing; content is bit-identical
    to the input (tested)."""
    if not cols or bits * len(cols) > 63:
        raise ValueError(f"need 1..{63 // bits} clustering columns at {bits} bits")
    coords = _rank_encodes(df, cols, bits)
    z = _interleave(coords, bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def rowgroup_pruning_stats(path: str, col: str, lo, hi) -> tuple[int, int]:
    """(row groups whose ``col`` min/max span intersects ``[lo, hi]``,
    total row groups) across the dataset's parquet footers — the number a
    predicate-pushdown scan actually reads vs. the table. Driver-side
    footer reads only (bounded: one footer per file), no data scan."""
    import glob as _glob

    import pyarrow.parquet as pq

    hit = total = 0
    for f in sorted(_glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            total += 1
            if st is None or not st.has_min_max:
                hit += 1  # no stats → the scan must read it
            elif not (st.max < lo or st.min > hi):
                hit += 1
    return hit, total


#: partition-key join separator for the per-partition bucket map —
#: a non-printing unit separator so values containing spaces can't
#: alias each other's keys
_SEP = chr(31)


def _bucketed(
    df, partition_cols: list[str], target_rows: int
) -> "tuple | None":
    """(bucketed frame with a ``__b`` column, total bucket count) for
    :func:`compact_partitions`, or None on an empty dataset.

    The bucket-count table MUST be keyed by the same engine's rendering of
    the partition values that later probes it: sizing with Python
    str(value) and probing with CAST(col AS STRING) diverges on NULLs,
    booleans ('True' vs 'true') and wide doubles ('1.0E7') — every lookup
    would miss and a huge partition would silently collapse to one file.
    So the key is ONE Spark expression (null-sentinelled per column so NULL
    never aliases a real value), used for both the size aggregation and
    the probe.

    The (pkey -> bucket count) table rides a BROADCAST JOIN of a local
    relation, not a ``create_map`` literal: a map literal carries
    2x|partitions| expression nodes into every plan that references it —
    superlinear driver analysis/codegen at 'a year of micro-batches'
    partition counts — while the join side stays one bounded relation
    regardless of cardinality. Built from the already-collected sizes so
    the groupBy/count never re-runs inside the write job.

    The bucket column is a PARALLELISM lever only (≈ one task per
    target-sized slice of each partition); the file-count contract is
    enforced by the writer's maxRecordsPerFile, so hash collisions that
    merge two buckets into one task still emit correctly-sized files.
    It MUST be deterministic: the compaction job overwrites its own input,
    and a nondeterministic key (monotonically_increasing_id) re-routes
    rows on task retry / fetch-failure recomputation — rows duplicated or
    dropped by the shuffle, permanently, in the dataset being compacted.
    A full-row content hash reproduces identical routing on any
    recomputation."""
    pkey = F.concat_ws(
        _SEP,
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
            for c in partition_cols
        ],
    )
    sizes = df.groupBy(pkey.alias("__k")).count().collect()
    n_for = {r["__k"]: -(-r["count"] // target_rows) for r in sizes}
    if not n_for:
        return None
    total = sum(n_for.values())
    from ..session import local_df

    sizes_df = local_df(
        df.sparkSession,
        [(k, int(n)) for k, n in sorted(n_for.items())],
        "__k string, __n int",
    )
    data_cols = [F.col(c) for c in df.columns]
    out = (
        df.withColumn("__k", pkey)
        .join(F.broadcast(sizes_df), "__k")
        .withColumn("__b", F.pmod(F.xxhash64(*data_cols), F.col("__n")))
        .drop("__k", "__n")
    )
    return out, total


def compact_partitions(
    spark,
    path: str,
    partition_cols: list[str],
    target_rows: int = 1_000_000,
) -> None:
    """Rewrite a partitioned parquet dataset so each partition directory
    holds ~``target_rows``-row files instead of per-micro-batch shards:
    read, re-bucket each partition's rows into ``ceil(rows/target)``
    slices via a deterministic content-hash bucket WITHIN the partition
    (``repartition`` on the partition columns alone would make one file
    per partition regardless of size; see :func:`_bucketed` for why the
    bucket key must be deterministic), dynamic-partition-overwrite back.
    Content-preserving; only touched partitions rewrite — same hygiene as
    the aggnav refresh."""
    df = spark.read.parquet(path)
    bucketed = _bucketed(df, partition_cols, target_rows)
    if bucketed is None:
        return
    out, total = bucketed
    (
        out.repartition(int(total), *partition_cols, F.col("__b"))
        .drop("__b")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", int(target_rows))
        .partitionBy(*partition_cols)
        .parquet(path)
    )
