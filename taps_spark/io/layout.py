"""Physical data layout for scan efficiency: clustered parquet writes.

At 100 TB the fastest scan is the one that never happens. Parquet
footers carry min/max statistics per row group; Spark's parquet reader
prunes row groups whose stat range can't satisfy a pushed filter. That
pruning is only selective if the data is CLUSTERED on the filter
column — a random row order makes every row-group range span the whole
domain and no row group is ever skipped.

`write_clustered` produces that layout declaratively:
  repartitionByRange(cluster_col)   → files own disjoint value ranges
  sortWithinPartitions(cluster_col) → row groups inside a file are
                                      tight sub-ranges
so a pushed range predicate touches only the files and row groups that
can contain matches. Time-series tables cluster on the event time
(the hypertable chunk layout); fact tables on their dominant filter
key.

Reference: taps streams rows in primary-key order
(lib/taps/data_stream.rb:29-33 order_by) — the same idea applied to a
cursor; here ordering buys stat-based skipping instead of resumability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from taps_spark.io.sources import read_parquet


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    num_files: int | None = None,
    partition_by: list[str] | None = None,
    codec: str = "zstd",
) -> None:
    """Write parquet clustered on `cluster_cols`: range-partitioned
    across files, sorted within each file, so parquet min/max stats
    prune both files and row groups for filters on those columns.

    `num_files` sizes the range shuffle (default: current shuffle
    partition setting). `partition_by` adds directory-level partition
    pruning ON TOP of stat-based skipping (partition columns must not
    overlap cluster columns).
    """
    if partition_by and set(partition_by) & set(cluster_cols):
        raise ValueError("partition_by and cluster_cols must be disjoint")
    clustered = (
        df.repartitionByRange(num_files, *cluster_cols)
        if num_files
        else df.repartitionByRange(*cluster_cols)
    ).sortWithinPartitions(*cluster_cols)
    writer = clustered.write.mode("overwrite").option("compression", codec)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def file_stat_ranges(path: str, column: str) -> list[tuple]:
    """Per-file (min, max) of `column` from parquet footer statistics —
    the evidence for whether a clustered layout actually enables
    skipping (disjoint ranges) or not (every file spans the domain).
    Driver-side metadata read only; no data pages are touched."""
    import glob
    import os

    import pyarrow.parquet as pq

    ranges = []
    for f in sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)):
        md = pq.ParquetFile(f).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema == column and col.statistics is not None:
                    s = col.statistics
                    lo = s.min if lo is None or s.min < lo else lo
                    hi = s.max if hi is None or s.max > hi else hi
        if lo is not None:
            ranges.append((lo, hi))
    return ranges


def zorder_key(df: DataFrame, c1: str, c2: str, bits: int = 16):
    """Z-order (Morton) interleave of two numeric columns as a pure
    column expression — the multi-dimensional clustering key behind
    Delta/Iceberg OPTIMIZE ZORDER. Sorting by a single column gives
    perfect skipping on it and NONE on any other; sorting by the
    Morton code of two columns gives ~√ skipping on BOTH: each file's
    (min,max) box covers ~1/√n_files of each dimension instead of all
    of one.

    Both columns are min/max-normalized to `bits` bits (one tiny agg
    job for the bounds — the only driver-side scalar), then bit-
    interleaved entirely in JVM expressions (shiftleft/or over `bits`
    terms; whole-stage codegen folds it into one projection).

    Returns (key_column, bounds) — pass the column to
    `write_clustered` via withColumn.
    """
    from pyspark.sql import functions as F

    row = df.agg(
        F.min(c1).alias("lo1"), F.max(c1).alias("hi1"),
        F.min(c2).alias("lo2"), F.max(c2).alias("hi2"),
    ).collect()[0]
    lo1, hi1, lo2, hi2 = row["lo1"], row["hi1"], row["lo2"], row["hi2"]
    scale = (1 << bits) - 1

    def norm(c, lo, hi):
        if hi == lo:
            return F.lit(0).cast("long")
        return ((F.col(c) - F.lit(lo)) * scale / F.lit(hi - lo)).cast("long")

    n1, n2 = norm(c1, lo1, hi1), norm(c2, lo2, hi2)
    key = F.lit(0).cast("long")
    for i in range(bits):
        b1 = F.shiftright(n1, i).bitwiseAND(F.lit(1))
        b2 = F.shiftright(n2, i).bitwiseAND(F.lit(1))
        key = key.bitwiseOR(F.shiftleft(b1, 2 * i)).bitwiseOR(
            F.shiftleft(b2, 2 * i + 1)
        )
    return key, {"lo1": lo1, "hi1": hi1, "lo2": lo2, "hi2": hi2}


def write_zordered(
    df: DataFrame,
    path: str,
    c1: str,
    c2: str,
    num_files: int | None = None,
    codec: str = "zstd",
) -> None:
    """Write parquet clustered on the Morton code of (c1, c2): range
    filters on EITHER column prune files/row groups via footer stats.
    The z key is dropped before writing — it exists only to place
    rows."""
    key, _ = zorder_key(df, c1, c2)
    with_key = df.withColumn("__z", key)
    clustered = (
        with_key.repartitionByRange(num_files, "__z")
        if num_files
        else with_key.repartitionByRange("__z")
    ).sortWithinPartitions("__z")
    clustered.drop("__z").write.mode("overwrite").option(
        "compression", codec
    ).parquet(path)


def compact_small_files(
    spark,
    path: str,
    target_file_bytes: int = 512 * 1024 * 1024,
    cluster_cols: list[str] | None = None,
    codec: str = "zstd",
) -> dict:
    """Rewrite a parquet directory into ~target-sized files — the
    small-files maintenance op every long-lived ingest target needs:
    streaming/incremental writers leave thousands of KB-scale files,
    and at 100 TB the per-file open/footer/task overhead (and the
    NameNode/listing pressure) dominates the scan.

    File count = ceil(current_bytes / target); rows move through ONE
    shuffle (repartitionByRange on cluster_cols when given — compaction
    and re-clustering share the pass — else round-robin repartition).
    The rewrite stages to a sibling directory and swaps in atomically,
    so readers never see a half-compacted table.

    Returns {files_before, files_after, bytes}.
    """
    import glob as _glob
    import math
    import os
    import shutil

    files = [
        f
        for f in _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    ]
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_file_bytes))
    df = read_parquet(spark, path)
    if cluster_cols:
        out = df.repartitionByRange(n_out, *cluster_cols).sortWithinPartitions(
            *cluster_cols
        )
    else:
        out = df.repartition(n_out)
    staged = path.rstrip("/") + ".__compact_tmp"
    out.write.mode("overwrite").option("compression", codec).parquet(staged)
    old = path.rstrip("/") + ".__compact_old"
    shutil.move(path, old)
    shutil.move(staged, path)
    shutil.rmtree(old)
    after = len(_glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    return {"files_before": len(files), "files_after": after, "bytes": total}
