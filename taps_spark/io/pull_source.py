"""Python DataSource V2: keyset-chunked pull from a live SQL database.

This is the reference's core loop — chunked table pull over a primary
key (reference: lib/taps/data_stream.rb:279-312 keyset reads;
lib/taps/operation.rb:129-131 connect) — re-expressed as an idiomatic
Spark data source instead of a single-cursor stream:

- PLAN TIME (driver): one cheap indexed query computes exact keyset
  chunk boundaries (every Nth pk in order), so each partition is a
  half-open pk range holding ~chunk_rows rows REGARDLESS of key skew
  — the same guarantee the reference's sequential cursor gives, but
  the ranges are independent, so a 1000-executor cluster pulls 1000
  chunks concurrently where the reference pulls one at a time.
- READ TIME (executors): each partition opens its OWN read-only
  connection, runs `WHERE pk >= lo AND pk < hi ORDER BY pk`, and
  yields Arrow RecordBatches (columnar transfer into Spark — no
  per-row Python boxing).
- FILTER PUSHDOWN: comparison/equality predicates on the pk column
  are absorbed into the plan-time range, so `df.filter(pk > x)`
  narrows what is CHUNKED, not just what is returned — fewer
  partitions, not just fewer rows (pushFilters, Spark 4 Python DS
  API). All other predicates are left for Spark to evaluate.

Sqlite is the live-DB stand-in here (stdlib driver, zero install) —
the same planning applies to any DB-API source. The JDBC path
(taps_spark/io/jdbc.py) is the production route for real databases;
this source exists to prove the pull protocol shape end-to-end in
Python and to serve DB engines Spark has no JDBC driver for.

Writes intentionally omitted: sqlite is single-writer, so a parallel
push would serialize on the file lock and prove nothing — the Derby
JDBC round-trip (tests/test_jdbc_live.py) covers the push direction.

Type mapping (PRAGMA table_info → Spark): INTEGER→long, REAL→double,
TEXT/anything else→string — sqlite's own affinity set.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

_AFFINITY = {"INTEGER": LongType(), "INT": LongType(), "BIGINT": LongType(), "REAL": DoubleType()}


def _sqlite_type(decl: str):
    return _AFFINITY.get((decl or "").upper(), StringType())


@dataclass
class KeysetRange(InputPartition):
    lo: int | None  # None → unbounded (first chunk)
    hi: int | None  # None → unbounded (last chunk)


class SqlitePullDataSource(DataSource):
    """`spark.read.format("taps_pull").option("path", db).option("table", t)
    .option("pk", col).option("chunk_rows", n).load()`"""

    @classmethod
    def name(cls) -> str:
        return "taps_pull"

    def schema(self) -> StructType:
        import sqlite3

        with sqlite3.connect(self.options["path"]) as con:
            cols = con.execute(
                f'PRAGMA table_info("{self.options["table"]}")'
            ).fetchall()
        if not cols:
            raise ValueError(f"table not found in sqlite db: {self.options['table']}")
        return StructType(
            [StructField(c[1], _sqlite_type(c[2]), True) for c in cols]
        )

    def reader(self, schema: StructType) -> DataSourceReader:
        return SqlitePullReader(self.options, schema)

    def streamReader(self, schema: StructType) -> "SqlitePullStreamReader":
        return SqlitePullStreamReader(self.options, schema)


class _KeysetReader:
    """What the batch and stream readers share: the options check, the
    plan-time keyset planner and the executor-side chunk read."""

    def __init__(self, options, schema: StructType) -> None:
        self.path = options["path"]
        self.table = options["table"]
        self.pk = options["pk"]
        self.chunk_rows = int(options.get("chunk_rows", "10000"))
        self.schema = schema
        if self.pk not in schema.fieldNames():
            raise ValueError(f"pk column {self.pk!r} not in table {self.table!r}")

    def _connect(self):
        """A read-only connection that `with` closes."""
        import sqlite3
        from contextlib import closing

        return closing(sqlite3.connect(f"file:{self.path}?mode=ro", uri=True))

    def _where(self, lo: int | None, hi: int | None) -> tuple[str, list]:
        """`pk >= lo AND pk < hi`, a None bound left open."""
        conds, args = ["1=1"], []
        if lo is not None:
            conds.append(f'"{self.pk}" >= ?')
            args.append(lo)
        if hi is not None:
            conds.append(f'"{self.pk}" < ?')
            args.append(hi)
        return " AND ".join(conds), args

    # -- planning (driver) ------------------------------------------

    def _plan(self, lo: int | None, hi: int | None) -> list[KeysetRange]:
        """Split the half-open pk range [lo, hi) into keyset chunks.

        Exact boundaries: the pk of every chunk_rows-th row in key
        order. One indexed scan at plan time; value-skew in the key
        space cannot unbalance the chunks (unlike JDBC's numPartitions
        value-range striping). The chunks tile [lo, hi) exactly, and
        an empty range is still one (empty) chunk.
        """
        where, args = self._where(lo, hi)
        q = (
            f'SELECT "{self.pk}" FROM (SELECT "{self.pk}", ROW_NUMBER() OVER '
            f'(ORDER BY "{self.pk}") AS rn FROM "{self.table}" WHERE {where}) '
            f"WHERE rn % {self.chunk_rows} = 1 AND rn > 1"
        )
        with self._connect() as con:
            bounds = [r[0] for r in con.execute(q, args).fetchall()]
        edges = [lo, *bounds, hi]
        return [KeysetRange(a, b) for a, b in zip(edges, edges[1:])]

    # -- execution (one partition per executor task) -----------------

    def read(self, partition: KeysetRange):
        """`SELECT cols WHERE pk >= lo AND pk < hi ORDER BY pk`,
        yielded as Arrow RecordBatches."""
        import pyarrow as pa

        where, args = self._where(partition.lo, partition.hi)
        names = self.schema.fieldNames()
        pa_types = [
            pa.int64()
            if isinstance(f.dataType, LongType)
            else pa.float64()
            if isinstance(f.dataType, DoubleType)
            else pa.string()
            for f in self.schema.fields
        ]
        cols = ", ".join(f'"{n}"' for n in names)
        with self._connect() as con:
            cur = con.execute(
                f'SELECT {cols} FROM "{self.table}" WHERE {where} ORDER BY "{self.pk}"',
                args,
            )
            while rows := cur.fetchmany(4096):
                yield pa.RecordBatch.from_arrays(
                    [pa.array([r[i] for r in rows], type=pa_types[i]) for i in range(len(names))],
                    names=names,
                )


class SqlitePullReader(_KeysetReader, DataSourceReader):
    def __init__(self, options, schema: StructType) -> None:
        super().__init__(options, schema)
        # half-open pk bounds [lo, hi) absorbed from pushed filters
        self._lo: int | None = None
        self._hi: int | None = None

    def pushFilters(self, filters: list[Filter]):  # noqa: N802 (API name)
        # Eager (no generator): partition planning depends on the
        # absorbed bounds, so the side effects must happen before
        # Spark calls partitions(), however it consumes the result.
        unhandled: list[Filter] = []
        for f in filters:
            v = getattr(f, "value", None)
            if getattr(f, "attribute", None) != (self.pk,) or not isinstance(v, int):
                unhandled.append(f)  # not a pk comparison — Spark keeps it
                continue
            lo, hi = {
                GreaterThan: (v + 1, None),
                GreaterThanOrEqual: (v, None),
                LessThan: (None, v),
                LessThanOrEqual: (None, v + 1),
                EqualTo: (v, v + 1),
            }.get(type(f), (None, None))
            if lo is None and hi is None:
                unhandled.append(f)
                continue
            if lo is not None and (self._lo is None or lo > self._lo):
                self._lo = lo
            if hi is not None and (self._hi is None or hi < self._hi):
                self._hi = hi
        return unhandled

    def partitions(self):
        return self._plan(self._lo, self._hi)


class SqlitePullStreamReader(_KeysetReader, DataSourceStreamReader):
    """Continuous replication — the reference's serve/pull loop
    (lib/taps/operation.rb pull cycle re-polled by the caller) as a
    Structured Streaming source with exactly-once semantics.

    Offset = the max pk replicated so far ({"pk": n}); a micro-batch
    covers the keyset range (start, end], i.e. [start + 1, end + 1).
    Requirements, same as the reference's resume protocol: integer pk,
    append-only monotonic writes (updates/deletes need the CDC path,
    io/sinks.merge_apply_changes).

    Exactly-once: offsets live in the query checkpoint; partitions()
    re-plans any (start, end] deterministically, so replay after a
    crash re-reads exactly the uncommitted range — no dedup pass
    needed at the sink. A restarted query resumes from the
    checkpointed offset and ships only rows the source grew since.

    Scale: each micro-batch is keyset-chunked by the batch reader's
    planner, so a large catch-up batch fans out across the cluster
    instead of trickling through one cursor — the reference pulls
    1,000 rows/s on one connection; this pulls every chunk in
    parallel.
    """

    def _pk_agg(self, fn: str):
        with self._connect() as con:
            return con.execute(f'SELECT {fn}("{self.pk}") FROM "{self.table}"').fetchone()[0]

    def initialOffset(self) -> dict:
        mn = self._pk_agg("MIN")
        # Start just below the smallest existing pk so a fresh query
        # replicates the whole table; empty table → 0 (first rows > 0
        # arrive in later batches; sqlite rowids start at 1).
        return {"pk": (mn - 1) if mn is not None else 0}

    def latestOffset(self) -> dict:
        mx = self._pk_agg("MAX")
        return {"pk": mx} if mx is not None else {"pk": 0}

    def partitions(self, start: dict, end: dict):
        return self._plan(start["pk"] + 1, end["pk"] + 1)

    def commit(self, end: dict) -> None:
        pass  # offsets are checkpoint-managed; nothing to clean up


def register_pull_source(spark) -> None:
    """Idempotent registration of the taps_pull format.

    Python-data-source filter pushdown is gated off by default
    (readers implementing pushFilters hard-fail without the flag), so
    registration enables it — runtime-settable, no restart needed.
    """
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SqlitePullDataSource)


def sqlite_from_parquet(
    parquet_path: str, db_path: str, table: str, columns: list[str] | None = None
) -> str:
    """Materialize a parquet table into a new sqlite database at
    `db_path` — the live-endpoint builder for tests and the registry
    demo (a stand-in for the user's actual source DB). Integer columns
    → INTEGER, floats → REAL, everything else stored as TEXT via str().

    Built on every call, from the parquet as it is now; the caller
    owns the path (the registry queries pass a `scratch()` dir).
    """
    import sqlite3

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=columns)
    decls, converters = [], []
    for field in t.schema:
        if pa.types.is_integer(field.type):
            decls.append(f'"{field.name}" INTEGER')
            converters.append(lambda v: v)
        elif pa.types.is_floating(field.type):
            decls.append(f'"{field.name}" REAL')
            converters.append(lambda v: v)
        else:
            decls.append(f'"{field.name}" TEXT')
            converters.append(lambda v: None if v is None else str(v))
    con = sqlite3.connect(db_path)
    try:
        con.execute(f'CREATE TABLE "{table}" ({", ".join(decls)})')
        cols = t.to_pydict()
        names = t.schema.names
        rows = zip(*(map(converters[i], cols[n]) for i, n in enumerate(names)))
        con.executemany(
            f'INSERT INTO "{table}" VALUES ({", ".join("?" * len(names))})', rows
        )
        con.commit()
    finally:
        con.close()
    return db_path
