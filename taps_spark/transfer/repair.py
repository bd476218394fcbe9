"""Targeted verify/repair: re-copy exactly the damaged keyset chunks.

The reference's repair story is coarse — on checksum mismatch you
re-pull the table (lib/taps/data_stream.rb verify_stream aborts the
stream and the operator re-runs). At 100 TB that is not a plan. This
module closes the loop the scalable way:

    audit (which fixed-width pk chunks disagree?)
      → repair (ship ONLY missing source rows from those chunks)
        → verify (checksum equality, transfer/verify.compare)

Chunk audit compares per-chunk row counts AND order-insensitive
row-hash digests (xxhash64 xor/sum lanes, the same construction as
transfer/verify.compare), so it catches missing rows and corrupted
values alike. Everything shuffles (chunk_id, count, hash) triples —
|table|/chunk_rows rows of three longs — never the data itself.

Repair ships `source ⋉ damaged-chunks ▷ dest-keys`: a broadcast
semi-join on the (small) damaged-chunk set restricts the source scan,
and a left-anti join on the pk removes rows the destination already
holds, so the append is idempotent even when a chunk is only
partially damaged. With a clustered/partitioned destination layout
(io/layout.write_clustered) the pk-range predicate also prunes the
destination scan to the damaged ranges.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from taps_spark.io.sources import read_parquet


def _chunk_digest(df: DataFrame, pk: str, chunk_rows: int) -> DataFrame:
    """Per-chunk fingerprint: (chunk_id, n_rows, xor_hash, sum_hash)
    over a row hash of every column. Map-side combinable; output is
    |table|/chunk_rows rows."""
    row_h = F.xxhash64(*[F.col(c) for c in df.columns])
    return (
        df.select(F.expr(f"{pk} DIV {chunk_rows}").alias("chunk_id"), row_h.alias("h"))
        .groupBy("chunk_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.aggregate(F.collect_list("h"), F.lit(0).cast("long"), lambda a, x: a.bitwiseXOR(x)).alias(
                "xor_hash"
            ),
            F.sum(F.col("h").cast("decimal(38,0)")).alias("sum_hash"),
        )
    )


def audit_chunks(
    source: DataFrame, dest: DataFrame, pk: str, chunk_rows: int = 1024
) -> DataFrame:
    """Chunks where the two sides disagree (missing rows, extra rows,
    or corrupted values), as DataFrame[chunk_id, src_rows, dst_rows].

    One digest aggregation per side, one full-outer join on chunk_id.
    """
    s = _chunk_digest(source, pk, chunk_rows).select(
        "chunk_id",
        F.col("n_rows").alias("src_rows"),
        F.col("xor_hash").alias("src_xor"),
        F.col("sum_hash").alias("src_sum"),
    )
    d = _chunk_digest(dest, pk, chunk_rows).select(
        "chunk_id",
        F.col("n_rows").alias("dst_rows"),
        F.col("xor_hash").alias("dst_xor"),
        F.col("sum_hash").alias("dst_sum"),
    )
    j = s.join(d, "chunk_id", "full_outer")
    damaged = (
        F.col("dst_rows").isNull()
        | F.col("src_rows").isNull()
        | (F.col("src_rows") != F.col("dst_rows"))
        | (F.col("src_xor") != F.col("dst_xor"))
        | (F.col("src_sum") != F.col("dst_sum"))
    )
    return (
        j.filter(damaged)
        .select(
            "chunk_id",
            F.coalesce("src_rows", F.lit(0)).alias("src_rows"),
            F.coalesce("dst_rows", F.lit(0)).alias("dst_rows"),
        )
        .orderBy("chunk_id")
    )


@dataclass(frozen=True)
class RepairResult:
    n_damaged_chunks: int
    n_rows_shipped: int


def repair_missing_rows(
    source: DataFrame,
    dest_path: str,
    pk: str,
    chunk_rows: int = 1024,
    spark=None,
) -> RepairResult:
    """Append to the parquet destination exactly the source rows that
    are missing from damaged chunks. Idempotent: rows the destination
    already holds are anti-joined out, so re-running after a partial
    repair ships only what is still absent.

    Returns the damaged-chunk count and rows shipped. Corrupted (as
    opposed to missing) destination rows are NOT deleted here —
    overwrite repair needs the staged-swap sink
    (io/sinks.merge_upsert); this function is the append-only fast
    path for the dominant failure (lost chunks from an interrupted
    transfer).
    """
    spark = spark or source.sparkSession
    dest = read_parquet(spark, dest_path)
    damaged = audit_chunks(source, dest, pk, chunk_rows).select("chunk_id")
    src_chunk = F.expr(f"{pk} DIV {chunk_rows}").alias("chunk_id")
    candidates = source.withColumn("chunk_id", src_chunk).join(
        F.broadcast(damaged), "chunk_id", "left_semi"
    )
    missing = candidates.join(dest.select(pk), pk, "left_anti").drop("chunk_id")
    n_damaged = damaged.count()
    n_ship = missing.count()
    if n_ship:
        missing.select(*dest.columns).write.mode("append").parquet(dest_path)
    return RepairResult(n_damaged_chunks=n_damaged, n_rows_shipped=n_ship)
