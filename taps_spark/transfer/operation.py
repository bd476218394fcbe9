"""Whole-database transfer operations (reference Pull/Push parity).

The reference's job plan (lib/taps/operation.rb:245-257 pull,
404-416 push) is:
    verify endpoint → schema → [indexes first?] → data → indexes →
    reset sequences → (on duplicate-PK: verify/repair)
one table at a time, one chunk in flight, over HTTP. The
`--indexes-first` flag (lib/taps/cli.rb:133) moves index creation
BEFORE the data phase (slower load, but constraints hold during it).

The Spark engine keeps the PHASE ORDER but parallelizes the data
plane. Every table is read once into a partitioned DataFrame, then
validated → idempotent append (rows counted by an observed metric
during the write) → checksum-verified against that same source frame
(transfer/verify: one aggregate over both sides); only a verified
table lands in the resume manifest. A keyed parquet table new to the
target costs three Spark jobs: the write and the two-job digest (each
side's parquet schema comes from one footer read on the driver, no
job; a rerun adds the anti-join's read of the target's keys).
Endpoints are abstracted as `Endpoint`s — a parquet directory
(testable everywhere) or a live JDBC database (io/jdbc.JdbcEndpoint:
partitioned keyset reads, batched writes, real DDL execution).

Mid-table resume (reference cursor parity, data_stream.rb:15-25):
with `chunk_rows` set and a declared integer PK, the data phase
splits each table into pk-range chunks, records a high-watermark in
the manifest after every chunk, and a resumed run filters
`pk > watermark` — pushed down to the source scan — so a crash at 90%
re-reads 10%, not the whole table.

Scale: per-table parallelism × per-partition parallelism; the driver
only sequences phases and chunk boundaries (O(tables × chunks) tiny
loop), never rows.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taps_spark.catalog import apply_table_filter
from taps_spark.errors import CorruptedData
from taps_spark.io import sinks
from taps_spark.io.jdbc import create_index_sql, reset_sequence_sql
from taps_spark.io.sources import read_parquet
from taps_spark.transfer.manifest import TransferManifest
from taps_spark.transfer.progress import ProgressMeter
from taps_spark.transfer.verify import verify_or_raise
from taps_spark.validation import Rule, enforce


class Endpoint(Protocol):
    """A 'database' the operation can read or write."""

    def tables(self) -> list[str]: ...

    def read(self, spark: SparkSession, table: str) -> DataFrame: ...

    def write(self, spark: SparkSession, table: str, df: DataFrame, key_cols: list[str] | None) -> int:
        """Land `df` (keyed: only rows whose key is new) and return the
        row count observed during the write."""
        ...


@dataclass
class ParquetEndpoint:
    """Directory-of-parquet endpoint (the fixture layout; also the
    natural lakehouse landing zone at scale). `codec` maps the
    reference's --disable-compression (cli.rb:136, Rack::Deflater
    transport gzip) onto the columnar codec: 'zstd' default,
    'uncompressed' when disabled."""

    root: str
    codec: str = "zstd"

    def tables(self) -> list[str]:
        from taps_spark.catalog import discover_tables

        return discover_tables(self.root)

    def _path(self, table: str) -> str:
        import os

        return os.path.join(self.root, f"{table}.parquet")

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return read_parquet(spark, self._path(table))

    def write(
        self, spark: SparkSession, table: str, df: DataFrame, key_cols: list[str] | None
    ) -> int:
        if key_cols:
            return sinks.append_idempotent(
                spark, df, self._path(table), key_cols, codec=self.codec
            )
        meter = ProgressMeter()
        sinks.write_parquet(meter.instrument(df), self._path(table), codec=self.codec)
        return meter.harvest()


@dataclass
class TransferResult:
    transferred: dict[str, int] = field(default_factory=dict)
    skipped: list[str] = field(default_factory=list)
    verified: list[str] = field(default_factory=list)
    #: executed phase order, e.g. ["schema", "data", "indexes", "sequences"]
    phases: list[str] = field(default_factory=list)
    #: DDL statements executed on the target (indexes + sequence resets)
    ddl_applied: list[str] = field(default_factory=list)
    #: table → watermark this run resumed from (mid-table restart proof)
    resumed_from: dict[str, int] = field(default_factory=dict)
    #: table → number of pk-range chunks the data phase used
    chunks: dict[str, int] = field(default_factory=dict)


@dataclass
class TransferOperation:
    """Pull ≡ Push in engine terms — only source/target roles differ
    (the reference needed two classes because of which side the HTTP
    server was on; Spark executors reach both endpoints directly)."""

    source: Endpoint
    target: Endpoint
    manifest: TransferManifest
    table_pattern: str | None = None
    exclude_tables: list[str] | None = None
    key_cols: dict[str, list[str]] = field(default_factory=dict)
    rules: dict[str, list[Rule]] = field(default_factory=dict)
    verify: bool = True
    #: table → list of index column-lists, applied as passthrough DDL
    #: on targets that support it (reference pull_indexes,
    #: lib/taps/operation.rb:278-300)
    indexes: dict[str, list[list[str]]] = field(default_factory=dict)
    #: table → pk column whose sequence/identity is resynced after load
    #: (reference pull_reset_sequences, lib/taps/operation.rb:302-308)
    sequences: dict[str, str] = field(default_factory=dict)
    ddl_dialect: str = "postgres"
    #: reference --indexes-first (lib/taps/cli.rb:133): build indexes
    #: BEFORE the data phase instead of after
    indexes_first: bool = False
    #: enable chunked data phase with mid-table resume when the table
    #: has a single integer pk in key_cols; None = whole-table writes
    chunk_rows: int | None = None
    #: tables transferred concurrently (Spark actions are thread-safe;
    #: the scheduler interleaves their stages). 1 = the reference's
    #: sequential order; >1 is where "per-table parallelism ×
    #: per-partition parallelism" actually happens on a big cluster.
    parallelism: int = 1
    #: per-run scratch (distinct keys per table; GIL-atomic setitem)
    _resumed_from: dict[str, int] = field(default_factory=dict, init=False, repr=False)
    _chunks: dict[str, int] = field(default_factory=dict, init=False, repr=False)

    def run(self, spark: SparkSession) -> TransferResult:
        result = TransferResult()
        tables = apply_table_filter(
            self.source.tables(), self.table_pattern, self.exclude_tables
        )
        # Reference phase order (lib/taps/operation.rb:245-257):
        # schema → [indexes?] → data → [indexes] → sequences.
        result.phases.append("schema")  # targets create tables on first write
        if self.indexes_first and self.indexes:
            self._index_phase(spark, tables, result)
        self._data_phase(spark, tables, result)
        if not self.indexes_first and self.indexes:
            self._index_phase(spark, tables, result)
        if self.sequences:
            self._sequence_phase(spark, tables, result)
        return result

    # ------------------------------------------------------------- phases

    def _apply_ddl(self, spark: SparkSession, statements: list[str], result: TransferResult) -> None:
        apply = getattr(self.target, "apply_ddl", None)
        if apply is None:
            return  # endpoint (e.g. parquet) has no DDL surface
        apply(spark, *statements)
        result.ddl_applied.extend(statements)

    def _index_phase(self, spark: SparkSession, tables: list[str], result: TransferResult) -> None:
        result.phases.append("indexes")
        stmts = [
            create_index_sql(t, cols, dialect=self.ddl_dialect)
            for t in tables
            for cols in self.indexes.get(t, [])
        ]
        if stmts:
            self._apply_ddl(spark, stmts, result)

    def _sequence_phase(self, spark: SparkSession, tables: list[str], result: TransferResult) -> None:
        result.phases.append("sequences")
        stmts = []
        for t in tables:
            if t not in self.sequences:
                continue
            pk = self.sequences[t]
            if self.ddl_dialect == "derby":
                # Derby's RESTART WITH takes a literal, so compute the
                # next identity value from the freshly-loaded target.
                mx = self.target.read(spark, t).agg(F.max(pk).alias("m")).head()["m"]
                nxt = int(mx) + 1 if mx is not None else 1
                stmts.append(reset_sequence_sql(t, pk, "derby", next_value=nxt))
            else:
                stmts.append(reset_sequence_sql(t, pk, self.ddl_dialect))
        if stmts:
            self._apply_ddl(spark, stmts, result)

    # --------------------------------------------------------- data plane

    def _data_phase(self, spark: SparkSession, tables: list[str], result: TransferResult) -> None:
        result.phases.append("data")
        todo = []
        for table in tables:
            if self.manifest.is_complete(table):
                result.skipped.append(table)
            else:
                todo.append(table)
        if self.parallelism > 1 and len(todo) > 1:
            # Concurrent Spark actions from a thread pool: each table's
            # read→write job interleaves on the scheduler, so small
            # tables don't serialize behind big ones. Per-table results
            # merge on the main thread; the manifest is internally
            # locked for the chunked path's worker-thread watermarks.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=self.parallelism) as pool:
                futures = {
                    t: pool.submit(self._transfer_one, spark, t) for t in todo
                }
                outcomes = {t: f.result() for t, f in futures.items()}
        else:
            outcomes = {t: self._transfer_one(spark, t) for t in todo}
        for table in todo:  # deterministic merge order
            n, verified = outcomes[table]
            if verified:
                result.verified.append(table)
            self.manifest.mark_complete(table, rows=n)
            result.transferred[table] = n
            if table in self._resumed_from:
                result.resumed_from[table] = self._resumed_from[table]
            if table in self._chunks:
                result.chunks[table] = self._chunks[table]

    def _transfer_one(self, spark: SparkSession, table: str) -> tuple[int, bool]:
        """Move one table and verify it; safe to run on a worker
        thread (no shared mutable state except the locked manifest).

        The source is read once: the data plane and verify share the
        frame (one listing and schema inference, one JDBC plan)."""
        source = self.source.read(spark, table)
        pk = self._single_int_pk(table)
        if self.chunk_rows and pk is not None:
            n = self._transfer_chunked(spark, table, source, pk)
        else:
            n = self._transfer_whole(spark, table, source)
        if self.verify:
            # CorruptedData propagates: the table is left out of the
            # manifest, and the next (idempotent) run repairs it.
            verify_or_raise(source, self.target.read(spark, table), table)
            return n, True
        return n, False

    def _single_int_pk(self, table: str) -> str | None:
        cols = self.key_cols.get(table)
        return cols[0] if cols and len(cols) == 1 else None

    def _transfer_whole(self, spark: SparkSession, table: str, df: DataFrame) -> int:
        if table in self.rules:
            df = enforce(df, self.rules[table])
        # The endpoint meters rows during the write itself (§2a-23
        # parity): no separate count job; see transfer/progress.py.
        return self.target.write(spark, table, df, self.key_cols.get(table))

    def _transfer_chunked(self, spark: SparkSession, table: str, df: DataFrame, pk: str) -> int:
        """Chunked data plane with a per-chunk manifest watermark.

        Chunks are pk-RANGE slices (keyset semantics, not offsets —
        the reference's scan cliff, README.rdoc:36, does not apply).
        Every chunk is itself a parallel partitioned write; the chunk
        loop only bounds how much work a crash can lose. `df` is the
        whole source; the watermark filter applies to this call's copy.
        """
        wm = self.manifest.watermark(table)
        if table in self.rules:
            df = enforce(df, self.rules[table])
        if wm is not None:
            self._resumed_from[table] = wm
            df = df.filter(F.col(pk) > F.lit(wm))

        stats = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(pk).alias("lo"),
            F.max(pk).alias("hi"),
        ).head()
        if stats["n"] == 0:
            # Nothing left past the watermark. The (idempotent) empty
            # write still creates a missing target with its schema.
            self.target.write(spark, table, df, self.key_cols.get(table))
            return 0
        lo, hi = int(stats["lo"]), int(stats["hi"])
        n_chunks = max(1, math.ceil(int(stats["n"]) / self.chunk_rows))
        step = max(1, math.ceil((hi - lo + 1) / n_chunks))
        self._chunks[table] = n_chunks

        total = 0
        for chunk_lo in range(lo, hi + 1, step):
            chunk_hi = min(chunk_lo + step - 1, hi)
            part = df.filter((F.col(pk) >= chunk_lo) & (F.col(pk) <= chunk_hi))
            total += self.target.write(spark, table, part, self.key_cols.get(table))
            # Watermark AFTER the chunk landed: a crash between write
            # and flush only re-runs one idempotent chunk.
            self.manifest.set_watermark(table, chunk_hi)
        return total
