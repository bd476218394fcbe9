"""Source↔sink checksum verification job.

Reference parity (#16): taps CRC32s every chunk in flight
(lib/taps/utils.rb:25-31, lib/taps/data_stream.rb:188-200) and
retries on CorruptedData (lib/taps/operation.rb:313-317). Inside
Spark the transport is already checksummed, so verification moves to
the endpoints: compute an order-insensitive digest of the source and
the sink and compare. Both sides are digested by one aggregate over
their tagged union (one shuffle-map job and one result job, whose
shuffle carries a few partial-aggregate rows), never the data itself.
`digest` is the engine's one digest: `compare` runs it per table,
transfer/repair.audit_chunks per pk chunk.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from taps_spark.errors import CorruptedData


@dataclass(frozen=True)
class ChecksumReport:
    n_rows: tuple[int, int]
    xor_hash: tuple[int, int]
    sum_hash: tuple[int, int]

    @property
    def ok(self) -> bool:
        return (
            self.n_rows[0] == self.n_rows[1]
            and self.xor_hash[0] == self.xor_hash[1]
            and self.sum_hash[0] == self.sum_hash[1]
        )


def _row_hashes(
    df: DataFrame, cols: list[str], side: int, keys: dict[str, Column]
) -> DataFrame:
    """(side, *keys, per-row xxhash64 over `cols` in that order). Each
    side is hashed in its own column types, before the union could
    widen them; xxhash64 skips nulls, so a null column leaves the
    running hash as is."""
    return df.select(
        F.lit(side).alias("side"),
        *[k.alias(name) for name, k in keys.items()],
        F.xxhash64(*[F.col(c) for c in cols]).alias("h"),
    )


def digest(
    source: DataFrame,
    sink: DataFrame,
    columns: list[str] | None = None,
    keys: dict[str, Column] | None = None,
) -> DataFrame:
    """The one table digest: DataFrame[side, *keys, n_rows, xor_hash,
    sum_hash], side 0 the source and 1 the sink, one row per side and
    group key present.

    The engine's replacement for the reference's per-chunk CRC32 (#16,
    lib/taps/utils.rb:25-31): row count plus two independent
    order-insensitive lanes over the row hashes, their xor and their
    sum. The rows are hashed over a common column set, sorted so both
    sides hash in one order whatever their own column order. The sum
    is taken in decimal(38,0): a long sum would overflow, and Spark 4's
    default ANSI mode makes that an error. `keys` (name → expression
    over either side) split the digest into groups, e.g. pk chunks.
    """
    keys = keys or {}
    cols = columns or sorted(set(source.columns) & set(sink.columns))
    return (
        _row_hashes(source, cols, 0, keys)
        .unionByName(_row_hashes(sink, cols, 1, keys))
        .groupBy("side", *keys)
        .agg(
            F.count("*").alias("n_rows"),
            F.bit_xor("h").alias("xor_hash"),
            F.sum(F.col("h").cast("decimal(38,0)")).alias("sum_hash"),
        )
    )


def compare(source: DataFrame, sink: DataFrame, columns: list[str] | None = None) -> ChecksumReport:
    """Digest both sides (`digest`, no group key) and compare. An empty
    side reports (0, None, 0)."""
    got = {r["side"]: r for r in digest(source, sink, columns).collect()}
    s, t = (got.get(side, {"n_rows": 0, "xor_hash": None, "sum_hash": 0}) for side in (0, 1))
    return ChecksumReport(
        n_rows=(s["n_rows"], t["n_rows"]),
        xor_hash=(s["xor_hash"], t["xor_hash"]),
        sum_hash=(int(s["sum_hash"] or 0), int(t["sum_hash"] or 0)),
    )


def verify_or_raise(source: DataFrame, sink: DataFrame, table: str = "?") -> ChecksumReport:
    report = compare(source, sink)
    if not report.ok:
        raise CorruptedData(
            f"checksum mismatch for {table}: rows {report.n_rows}, "
            f"xor {report.xor_hash}, sum {report.sum_hash}"
        )
    return report
