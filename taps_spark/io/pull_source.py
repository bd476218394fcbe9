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


class SqlitePullReader(DataSourceReader):
    def __init__(self, options, schema: StructType) -> None:
        self.path = options["path"]
        self.table = options["table"]
        self.pk = options["pk"]
        self.chunk_rows = int(options.get("chunk_rows", "10000"))
        self.schema = schema
        if self.pk not in schema.fieldNames():
            raise ValueError(f"pk column {self.pk!r} not in table {self.table!r}")
        # pk bounds absorbed from pushed filters: lo is (value, inclusive)
        self._lo: tuple[int, bool] | None = None
        self._hi: tuple[int, bool] | None = None

    # -- pushdown ---------------------------------------------------

    def pushFilters(self, filters: list[Filter]):  # noqa: N802 (API name)
        # Eager (no generator): partition planning depends on the
        # absorbed bounds, so the side effects must happen before
        # Spark calls partitions(), however it consumes the result.
        unhandled: list[Filter] = []
        for f in filters:
            if getattr(f, "attribute", None) != (self.pk,) or not isinstance(
                getattr(f, "value", None), int
            ):
                unhandled.append(f)  # not a pk comparison — Spark keeps it
                continue
            if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                cand = (f.value, isinstance(f, GreaterThanOrEqual))
                if self._lo is None or cand[0] > self._lo[0]:
                    self._lo = cand
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                cand = (f.value, isinstance(f, LessThanOrEqual))
                if self._hi is None or cand[0] < self._hi[0]:
                    self._hi = cand
            elif isinstance(f, EqualTo):
                self._lo = (f.value, True)
                self._hi = (f.value, True)
            else:
                unhandled.append(f)
        return unhandled

    def _range_where(self) -> tuple[str, list]:
        conds, args = [], []
        if self._lo is not None:
            conds.append(f'"{self.pk}" {">=" if self._lo[1] else ">"} ?')
            args.append(self._lo[0])
        if self._hi is not None:
            conds.append(f'"{self.pk}" {"<=" if self._hi[1] else "<"} ?')
            args.append(self._hi[0])
        return (" AND ".join(conds) or "1=1"), args

    # -- planning (driver) ------------------------------------------

    def partitions(self):
        import sqlite3

        where, args = self._range_where()
        # Exact keyset boundaries: the pk of every chunk_rows-th row in
        # key order. One indexed scan at plan time; value-skew in the
        # key space cannot unbalance the chunks (unlike JDBC's
        # numPartitions value-range striping).
        q = (
            f'SELECT "{self.pk}" FROM (SELECT "{self.pk}", ROW_NUMBER() OVER '
            f'(ORDER BY "{self.pk}") AS rn FROM "{self.table}" WHERE {where}) '
            f"WHERE rn % {self.chunk_rows} = 1 AND rn > 1"
        )
        with sqlite3.connect(self.path) as con:
            bounds = [r[0] for r in con.execute(q, args).fetchall()]
        edges = [None, *bounds, None]
        return [KeysetRange(lo, hi) for lo, hi in zip(edges, edges[1:])]

    # -- execution (one partition per executor task) -----------------

    def read(self, partition: KeysetRange):
        import sqlite3

        import pyarrow as pa

        where, args = self._range_where()
        if partition.lo is not None:
            where += f' AND "{self.pk}" >= ?'
            args = [*args, partition.lo]
        if partition.hi is not None:
            where += f' AND "{self.pk}" < ?'
            args = [*args, partition.hi]
        cols = ", ".join(f'"{n}"' for n in self.schema.fieldNames())
        con = sqlite3.connect(f"file:{self.path}?mode=ro", uri=True)
        try:
            cur = con.execute(
                f'SELECT {cols} FROM "{self.table}" WHERE {where} ORDER BY "{self.pk}"',
                args,
            )
            names = self.schema.fieldNames()
            pa_types = [
                pa.int64()
                if isinstance(f.dataType, LongType)
                else pa.float64()
                if isinstance(f.dataType, DoubleType)
                else pa.string()
                for f in self.schema.fields
            ]
            while True:
                rows = cur.fetchmany(4096)
                if not rows:
                    break
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([r[i] for r in rows], type=pa_types[i])
                        for i in range(len(names))
                    ],
                    names=names,
                )
        finally:
            con.close()


def _read_keyset_range(path, table, pk, schema, lo, hi):
    """Executor-side chunk read shared by the batch and stream readers:
    `SELECT cols WHERE pk >= lo AND pk < hi ORDER BY pk`, yielded as
    Arrow RecordBatches (bounds None → unbounded)."""
    import sqlite3

    import pyarrow as pa

    where, args = "1=1", []
    if lo is not None:
        where += f' AND "{pk}" >= ?'
        args.append(lo)
    if hi is not None:
        where += f' AND "{pk}" < ?'
        args.append(hi)
    cols = ", ".join(f'"{n}"' for n in schema.fieldNames())
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        cur = con.execute(
            f'SELECT {cols} FROM "{table}" WHERE {where} ORDER BY "{pk}"', args
        )
        names = schema.fieldNames()
        pa_types = [
            pa.int64()
            if isinstance(f.dataType, LongType)
            else pa.float64()
            if isinstance(f.dataType, DoubleType)
            else pa.string()
            for f in schema.fields
        ]
        while True:
            rows = cur.fetchmany(4096)
            if not rows:
                break
            yield pa.RecordBatch.from_arrays(
                [pa.array([r[i] for r in rows], type=pa_types[i]) for i in range(len(names))],
                names=names,
            )
    finally:
        con.close()


class SqlitePullStreamReader(DataSourceStreamReader):
    """Continuous replication — the reference's serve/pull loop
    (lib/taps/operation.rb pull cycle re-polled by the caller) as a
    Structured Streaming source with exactly-once semantics.

    Offset = the max pk replicated so far ({"pk": n}); a micro-batch
    covers the half-open keyset range (start, end]. Requirements, same
    as the reference's resume protocol: integer pk, append-only
    monotonic writes (updates/deletes need the CDC path,
    io/sinks.merge_apply_changes).

    Exactly-once: offsets live in the query checkpoint; partitions()
    re-plans any (start, end] deterministically, so replay after a
    crash re-reads exactly the uncommitted range — no dedup pass
    needed at the sink. A restarted query resumes from the
    checkpointed offset and ships only rows the source grew since.

    Scale: each micro-batch is keyset-chunked exactly like the batch
    reader (every chunk_rows-th pk within the range, one indexed
    plan-time scan), so a large catch-up batch fans out across the
    cluster instead of trickling through one cursor — the reference
    pulls 1,000 rows/s on one connection; this pulls every chunk in
    parallel.
    """

    def __init__(self, options, schema: StructType) -> None:
        self.path = options["path"]
        self.table = options["table"]
        self.pk = options["pk"]
        self.chunk_rows = int(options.get("chunk_rows", "10000"))
        self.schema = schema
        if self.pk not in schema.fieldNames():
            raise ValueError(f"pk column {self.pk!r} not in table {self.table!r}")

    def _max_pk(self):
        import sqlite3

        with sqlite3.connect(f"file:{self.path}?mode=ro", uri=True) as con:
            row = con.execute(
                f'SELECT MAX("{self.pk}") FROM "{self.table}"'
            ).fetchone()
        return row[0]

    def initialOffset(self) -> dict:
        import sqlite3

        with sqlite3.connect(f"file:{self.path}?mode=ro", uri=True) as con:
            row = con.execute(
                f'SELECT MIN("{self.pk}") FROM "{self.table}"'
            ).fetchone()
        # Start just below the smallest existing pk so a fresh query
        # replicates the whole table; empty table → 0 (first rows > 0
        # arrive in later batches; sqlite rowids start at 1).
        return {"pk": (row[0] - 1) if row[0] is not None else 0}

    def latestOffset(self) -> dict:
        mx = self._max_pk()
        return {"pk": mx} if mx is not None else {"pk": 0}

    def partitions(self, start: dict, end: dict):
        import sqlite3

        s, e = start["pk"], end["pk"]
        if e <= s:
            return [KeysetRange(s + 1, s + 1)]  # empty advance
        # Keyset chunk boundaries within (s, e] — same guarantee as the
        # batch planner: ~chunk_rows rows per partition regardless of
        # key-space skew.
        q = (
            f'SELECT "{self.pk}" FROM (SELECT "{self.pk}", ROW_NUMBER() OVER '
            f'(ORDER BY "{self.pk}") AS rn FROM "{self.table}" '
            f'WHERE "{self.pk}" > ? AND "{self.pk}" <= ?) '
            f"WHERE rn % {self.chunk_rows} = 1 AND rn > 1"
        )
        with sqlite3.connect(f"file:{self.path}?mode=ro", uri=True) as con:
            bounds = [r[0] for r in con.execute(q, (s, e)).fetchall()]
        edges = [s + 1, *bounds, e + 1]
        return [KeysetRange(lo, hi) for lo, hi in zip(edges, edges[1:])]

    def read(self, partition: KeysetRange):
        yield from _read_keyset_range(
            self.path, self.table, self.pk, self.schema, partition.lo, partition.hi
        )

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
