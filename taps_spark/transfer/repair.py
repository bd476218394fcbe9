"""Targeted verify/repair: re-copy exactly the damaged keyset chunks.

The reference's repair story is coarse — on checksum mismatch you
re-pull the table (lib/taps/data_stream.rb verify_stream aborts the
stream and the operator re-runs). At 100 TB that is not a plan. This
module closes the loop the scalable way:

    audit (which fixed-width pk chunks disagree?)
      → repair (ship ONLY missing source rows from those chunks)
        → verify (checksum equality, transfer/verify.compare)

Chunk audit is transfer/verify.digest keyed by chunk id: per-chunk
row counts AND order-insensitive row-hash lanes (xor and sum) on
each side, so it catches missing rows and corrupted values alike.
The digest's shuffle carries partial aggregates, at most one row per
(side, chunk) per map task, never the data itself.

Repair ships `source ⋉ damaged-chunks`, a broadcast semi-join on the
(small) damaged-chunk set that restricts the source scan, and lands
it through io/sinks.append_idempotent, whose anti-join on the pk
drops rows the destination already holds: the append is idempotent
even when a chunk is only partially damaged. With a
clustered/partitioned destination layout (io/layout.write_clustered)
the pk-range predicate also prunes the destination scan to the
damaged ranges.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from taps_spark.io import sinks
from taps_spark.io.sources import read_parquet
from taps_spark.transfer.verify import digest


def _chunk_id(pk: str, chunk_rows: int):
    return F.expr(f"{pk} DIV {chunk_rows}")


def audit_chunks(
    source: DataFrame, dest: DataFrame, pk: str, chunk_rows: int = 1024
) -> DataFrame:
    """Chunks where the two sides disagree (missing rows, extra rows,
    or corrupted values), as DataFrame[chunk_id, src_rows, dst_rows].

    One digest aggregate over both sides keyed by chunk id, then one
    per-chunk pivot of its (side, chunk) rows.
    """
    d = digest(source, dest, keys={"chunk_id": _chunk_id(pk, chunk_rows)})

    def side(c: str, s: int):
        return F.max(F.when(F.col("side") == s, F.col(c)))

    per_chunk = d.groupBy("chunk_id").agg(
        F.coalesce(side("n_rows", 0), F.lit(0)).alias("src_rows"),
        F.coalesce(side("n_rows", 1), F.lit(0)).alias("dst_rows"),
        side("xor_hash", 0).alias("src_xor"),
        side("xor_hash", 1).alias("dst_xor"),
        side("sum_hash", 0).alias("src_sum"),
        side("sum_hash", 1).alias("dst_sum"),
    )
    damaged = (
        (F.col("src_rows") != F.col("dst_rows"))
        | ~F.col("src_xor").eqNullSafe(F.col("dst_xor"))
        | ~F.col("src_sum").eqNullSafe(F.col("dst_sum"))
    )
    return per_chunk.filter(damaged).select("chunk_id", "src_rows", "dst_rows")


@dataclass(frozen=True)
class RepairResult:
    n_damaged_chunks: int
    n_rows_shipped: int


def repair_missing_rows(
    source: DataFrame, dest_path: str, pk: str, chunk_rows: int = 1024
) -> RepairResult:
    """Append to the parquet destination exactly the source rows that
    are missing from damaged chunks. Idempotent: the keyed landing
    (io/sinks.append_idempotent) drops rows the destination already
    holds, so re-running after a partial repair ships only what is
    still absent.

    Returns the damaged-chunk count and rows shipped. Corrupted (as
    opposed to missing) destination rows are NOT deleted here —
    overwrite repair needs the staged-swap sink
    (io/sinks.merge_upsert); this function is the append-only fast
    path for the dominant failure (lost chunks from an interrupted
    transfer).
    """
    spark = source.sparkSession
    dest = read_parquet(spark, dest_path)
    # The damaged ids reach the driver once: a broadcast collects them
    # there anyway, and the landing then reads a local relation instead
    # of re-running the audit.
    ids = [(r["chunk_id"],) for r in audit_chunks(source, dest, pk, chunk_rows).collect()]
    if not ids:
        return RepairResult(n_damaged_chunks=0, n_rows_shipped=0)
    damaged = spark.createDataFrame(ids, "chunk_id long")
    rows = (
        source.withColumn("chunk_id", _chunk_id(pk, chunk_rows))
        .join(F.broadcast(damaged), "chunk_id", "left_semi")
        .select(*dest.columns)
    )
    n_ship = sinks.append_idempotent(spark, rows, dest_path, [pk])
    return RepairResult(n_damaged_chunks=len(ids), n_rows_shipped=n_ship)
