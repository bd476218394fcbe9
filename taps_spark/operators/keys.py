"""Distributed surrogate-key assignment.

The reference relies on database-side autoincrement/sequences for
identity (lib/taps/utils.rb single_integer_primary_key; sequence
reset on push) — a single-node counter.  Distributed ingestion needs
gap-free ordered ids WITHOUT a single counter or a global sort to
one machine.  Classic two-phase scheme:

  1. range-shuffle on the ordering key and sort within partitions
     (one exchange; partition p owns a contiguous key range)
  2. count rows per partition (a jobs-scale driver aggregate:
     n_partitions rows), prefix-sum the counts into per-partition
     OFFSETS, broadcast them
  3. map-only pass assigns offset[p] + local_index

The result equals ROW_NUMBER() OVER (ORDER BY key) - 1 computed on
one node, but the only global structure is the n_partitions-row
offset table: at 100 TB stage 3 is embarrassingly parallel and no
machine ever sees more than its partition.  Range boundaries are
sample-based and may vary run-to-run, but ids depend only on the
TOTAL order (range order across partitions + sorted order inside),
so the assignment is deterministic for a unique ordering key.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from taps_spark.io.tables import materialize


def assign_surrogate_keys(
    df: DataFrame, order_col: str, id_col: str = "sk", num_partitions: int | None = None
) -> DataFrame:
    """Add a dense 0-based surrogate id `id_col` ordered by
    `order_col` (must be unique for a deterministic assignment)."""
    ranged = (
        df.repartitionByRange(num_partitions, order_col)
        if num_partitions
        else df.repartitionByRange(order_col)
    ).sortWithinPartitions(order_col)
    # CRITICAL: materialize the partitioning ONCE.  repartitionByRange
    # picks boundaries by sampling, independently per job — without
    # this the offset-count job and the numbering job can see
    # DIFFERENT partitionings (observed at sf0.1: duplicate/gapped
    # ids).  materialize() pins one materialization both jobs read.
    with_pid = ranged.withColumn("_pid", F.spark_partition_id()).transform(materialize)
    # Driver-side offsets: one row per partition — jobs-scale, not data-scale.
    counts = {r["_pid"]: r["cnt"] for r in with_pid.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    out_schema = with_pid.drop("_pid").schema.add(id_col, "long", False)

    def number(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = 0
        for b in batches:
            if len(b) == 0:
                yield b.drop(columns=["_pid"]).assign(**{id_col: pd.Series(dtype="int64")})
                continue
            base = offsets[int(b["_pid"].iloc[0])] + local
            out = b.drop(columns=["_pid"]).copy()
            out[id_col] = range(base, base + len(b))
            local += len(b)
            yield out

    return with_pid.mapInPandas(number, schema=out_schema)


def prefix_sums(
    df: DataFrame,
    order_col: str,
    sum_cols: tuple[str, ...],
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact running totals of `sum_cols` in `order_col` order,
    WITHOUT a global single-partition window.

    Same two-phase shape as assign_surrogate_keys: range-shuffle +
    in-partition sort (pinned once — see the materialize() note
    above), a jobs-scale per-partition totals collect prefix-summed
    into per-partition starting offsets, then a map-only pass adds
    offset + local cumulative sum. Equivalent to
    SUM(c) OVER (ORDER BY order_col ROWS UNBOUNDED PRECEDING) for a
    unique ordering key, but no executor ever holds more than its
    partition — the ECDF/prefix-sum primitive at 100 TB.
    """
    from pyspark.sql import types as T

    for c in sum_cols:
        dt = df.schema[c].dataType
        if not isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            # The declared cum_* schema is long; a float column would be
            # UNSAFELY floor-cast by the Arrow boundary (silent data
            # corruption), so refuse loudly instead.
            raise ValueError(
                f"prefix_sums: column {c!r} has type {dt.simpleString()}; "
                "only integral sum columns are supported (scale decimals "
                "to integers first, as the cents-domain callers do)"
            )
    ranged = (
        df.repartitionByRange(num_partitions, order_col)
        if num_partitions
        else df.repartitionByRange(order_col)
    ).sortWithinPartitions(order_col)
    with_pid = ranged.withColumn("_pid", F.spark_partition_id()).transform(materialize)
    totals = with_pid.groupBy("_pid").agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    ).collect()
    per_pid = {r["_pid"]: [r[c] or 0 for c in sum_cols] for r in totals}
    offsets: dict[int, list[int]] = {}
    acc = [0] * len(sum_cols)
    for pid in sorted(per_pid):
        offsets[pid] = list(acc)
        acc = [a + t for a, t in zip(acc, per_pid[pid])]
    out_schema = with_pid.drop("_pid").schema
    for c in sum_cols:
        out_schema = out_schema.add(f"cum_{c}", "long", False)

    def running(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carried: list[int] | None = None
        for b in batches:
            if len(b) == 0:
                yield b.drop(columns=["_pid"]).assign(
                    **{f"cum_{c}": pd.Series(dtype="int64") for c in sum_cols}
                )
                continue
            if carried is None:
                carried = list(offsets[int(b["_pid"].iloc[0])])
            out = b.drop(columns=["_pid"]).copy()
            for i, c in enumerate(sum_cols):
                # NULLs contribute 0, matching both SQL SUM OVER
                # semantics and the `or 0` in the driver-side offsets
                # (a bare cumsum would turn the partition's running
                # totals into NaN while later partitions' offsets
                # treated the NULL as 0 — silently inconsistent).
                vals = b[c].fillna(0).astype("int64")
                out[f"cum_{c}"] = vals.cumsum() + carried[i]
                carried[i] += int(vals.sum())
            yield out

    return with_pid.mapInPandas(running, schema=out_schema)
