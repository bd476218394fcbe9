"""JDBC scan planning + DDL passthrough SQL generation.

This is the Spark mapping of the reference's single most important
physical decision (SURVEY.md §4 #1): pick the access path per table.

Reference behavior:
- single integer PK → keyset pagination, `WHERE pk > last ORDER BY pk
  LIMIT k` (lib/taps/data_stream.rb:279-312, chosen at
  lib/taps/data_stream.rb:228-242 via utils.rb:140-143)
- otherwise → OFFSET pagination ordered by all columns
  (lib/taps/data_stream.rb:76-87) — the documented O(n²) cliff
  (README.rdoc:36)

Spark-native plan: a numeric PK becomes `partitionColumn` +
lower/upper bounds + numPartitions — Spark generates exactly the
keyset-range predicates (`pk >= lo AND pk < hi`) and runs them in
PARALLEL, which is why the engine's floor throughput is ~numPartitions
× the reference's single-cursor rate. No usable PK degrades to a
single-partition read (documented, like the reference's cliff) or to
caller-supplied predicate ranges.

Dissolved reference workaround: `incorrect_blobs`
(lib/taps/utils.rb:75-95) exists because Sequel surfaces MySQL TEXT
columns as blobs, so taps sniffs db_type =~ /text/ and coerces blob
→ string per row. Spark's JDBC dialect layer maps TEXT/CLOB to
StringType at schema-inference time, so there is no blob/text
confusion to repair — no analog needed (kept here as the audit
trail for SURVEY §2a completeness).

The live path is exercised end-to-end against embedded Apache Derby
(shipped on Spark's classpath): `JdbcEndpoint` lists tables from the
database catalog, gathers TableStats with one aggregate pushdown,
reads through `plan_jdbc_scan`'s partitioned options, writes with
batched inserts, and executes index/sequence DDL over a real JDBC
connection (tests/test_jdbc_live.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class TableStats:
    """Bounds the planner needs — one cheap aggregate on the source
    (SELECT count(*), min(pk), max(pk)), the Spark analog of the
    reference's table_count + verify_stream max(pk) calls
    (lib/taps/server.rb:160-169, lib/taps/data_stream.rb:329-340)."""

    n_rows: int
    pk: str | None = None
    pk_min: int | None = None
    pk_max: int | None = None


@dataclass(frozen=True)
class JdbcScanPlan:
    table: str
    options: dict[str, str] = field(default_factory=dict)
    parallel: bool = True
    reason: str = ""


def plan_jdbc_scan(
    table: str,
    stats: TableStats,
    target_rows_per_partition: int = 1_000_000,
    max_partitions: int = 512,
) -> JdbcScanPlan:
    """Choose the partitioned-read strategy for one table.

    Sizing: partitions ≈ n_rows / target_rows_per_partition, clamped
    to [1, max_partitions] — the static analog of the reference's
    adaptive chunk sizing. Nothing adapts fetchsize at run time
    (transfer/chunking.ChunkSizer ports the reference controller's
    math, but no transfer path calls it).
    """
    if stats.pk is None or stats.pk_min is None or stats.pk_max is None:
        return JdbcScanPlan(
            table=table,
            options={"dbtable": table},
            parallel=False,
            reason="no single integer primary key → single-cursor read "
            "(reference's offset-scan fallback, data_stream.rb:76-87)",
        )
    n_parts = max(1, min(max_partitions, stats.n_rows // target_rows_per_partition or 1))
    return JdbcScanPlan(
        table=table,
        options={
            "dbtable": table,
            "partitionColumn": stats.pk,
            "lowerBound": str(stats.pk_min),
            "upperBound": str(stats.pk_max + 1),
            "numPartitions": str(n_parts),
            # fetchsize: rows per JDBC round trip; the reference's
            # steady-state chunksize lands ~1000-2000 (BASELINE.md),
            # a modern driver sustains far more.
            "fetchsize": "10000",
        },
        parallel=True,
        reason=f"keyset-range parallel read on {stats.pk} ({n_parts} partitions)",
    )


def read_jdbc(spark: SparkSession, url: str, plan: JdbcScanPlan, **extra: str) -> DataFrame:
    reader = spark.read.format("jdbc").option("url", url)
    for k, v in {**plan.options, **extra}.items():
        reader = reader.option(k, v)
    return reader.load()


def jdbc_dialect(url: str) -> str:
    """Dialect tag from a JDBC URL (jdbc:derby:... → 'derby')."""
    parts = url.split(":", 2)
    if len(parts) < 2 or parts[0] != "jdbc":
        raise ValueError(f"not a JDBC url: {url}")
    return parts[1]


#: JDBC driver prefix → DDL dialect tag (the keys of schema._SQL_TYPES).
_DDL_DIALECTS = {
    "derby": "derby",
    "postgresql": "postgres",
    "mysql": "mysql",
    "sqlite": "sqlite",
}


def ddl_dialect(url: str) -> str:
    """DDL dialect for a JDBC URL (jdbc:postgresql:... → 'postgres').

    Errors on unmapped drivers rather than silently assuming one —
    emitting Derby DDL at a Postgres database is worse than stopping.
    """
    d = jdbc_dialect(url)
    try:
        return _DDL_DIALECTS[d]
    except KeyError:
        raise ValueError(
            f"no DDL dialect mapping for JDBC driver {d!r}; "
            f"known: {sorted(_DDL_DIALECTS)}"
        ) from None


def quote_ident(name: str, dialect: str = "derby") -> str:
    """Quote a COLUMN identifier for raw SQL against a Spark-written
    table. Spark's JDBC writer quotes column names in CREATE TABLE
    (they stay lowercase, case-sensitive) but passes the table name
    through unquoted — so raw SQL must quote columns and leave table
    names bare to resolve against what Spark actually created."""
    q = "`" if dialect == "mysql" else '"'
    return f"{q}{name}{q}"


#: Catalog query per dialect: one column, the user-table names.
_CATALOG_SQL = {
    "derby": "SELECT TABLENAME AS table_name FROM SYS.SYSTABLES WHERE TABLETYPE = 'T'",
    "postgresql": (
        "SELECT tablename AS table_name FROM pg_catalog.pg_tables "
        "WHERE schemaname NOT IN ('pg_catalog', 'information_schema')"
    ),
    "mysql": "SELECT table_name FROM information_schema.tables WHERE table_schema = DATABASE()",
    "sqlite": "SELECT name AS table_name FROM sqlite_master WHERE type = 'table'",
}


def list_jdbc_tables(spark: SparkSession, url: str) -> list[str]:
    """Table discovery from the live catalog (reference #1,
    lib/taps/server.rb:142-158 fetches the schema's table list), over
    one driver-side connection: no Spark job."""
    sql = _CATALOG_SQL.get(jdbc_dialect(url))
    if sql is None:
        raise ValueError(f"no catalog query for dialect {jdbc_dialect(url)!r}")
    return sorted(r[0].lower() for r in query_jdbc_rows(spark, url, sql))


def fetch_table_stats(spark: SparkSession, url: str, table: str, pk: str | None) -> TableStats:
    """One aggregate query per table — the reference's table_count +
    max(pk) round trips (lib/taps/server.rb:160-169,
    lib/taps/data_stream.rb:329-340) in one statement, run over a
    driver-side connection: the answer is one row, so a Spark job
    would be all overhead."""
    if pk is None:
        ((n,),) = query_jdbc_rows(spark, url, f"SELECT COUNT(*) FROM {table}")
        return TableStats(n_rows=int(n))
    pkq = quote_ident(pk, jdbc_dialect(url))
    ((n, lo, hi),) = query_jdbc_rows(
        spark, url, f"SELECT COUNT(*), MIN({pkq}), MAX({pkq}) FROM {table}"
    )
    if lo is None:  # empty table
        return TableStats(n_rows=0, pk=pk)
    return TableStats(n_rows=int(n), pk=pk, pk_min=int(lo), pk_max=int(hi))


def execute_jdbc_sql(spark: SparkSession, url: str, *statements: str) -> None:
    """Run passthrough DDL/DML (index creation, sequence resets) on
    the live database through a real JDBC connection — DataFrames
    cannot express these, and the reference runs them as raw SQL too
    (lib/taps/schema.rb:32-80). Statements run in order on one
    connection; any failure raises with the offending statement."""
    jvm = spark._jvm  # JDBC drivers on Spark's classpath auto-register
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        for sql in statements:
            try:
                st.execute(sql)
            except Exception as e:
                raise RuntimeError(f"JDBC DDL failed: {sql!r}: {e}") from e
    finally:
        conn.close()


def query_jdbc_rows(spark: SparkSession, url: str, sql: str) -> list[tuple]:
    """Run a query over one real JDBC connection on the driver and
    return its rows as tuples: for metadata and small aggregates
    (catalog, table stats), not a data-plane path."""
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        rs = conn.createStatement().executeQuery(sql)
        cols = range(1, rs.getMetaData().getColumnCount() + 1)
        out = []
        while rs.next():
            out.append(tuple(rs.getObject(i) for i in cols))
        return out
    finally:
        conn.close()


class JdbcEndpoint:
    """A live SQL database as a transfer endpoint (the reference's
    whole reason to exist: lib/taps/operation.rb:129-131 Sequel.connect;
    keyset reads lib/taps/data_stream.rb:279-312).

    Reads are partitioned through `plan_jdbc_scan` (keyset ranges in
    parallel when an integer PK is declared in `pk_cols`); writes are
    batched multi-row inserts. DDL (indexes, sequence resets) executes
    over a real JDBC connection via `apply_ddl`.
    """

    def __init__(
        self,
        url: str,
        pk_cols: dict[str, str] | None = None,
        target_rows_per_partition: int = 1_000_000,
        max_partitions: int = 512,
        batchsize: int = 10_000,
    ) -> None:
        self.url = url
        self.pk_cols = pk_cols or {}
        self.target_rows_per_partition = target_rows_per_partition
        self.max_partitions = max_partitions
        self.batchsize = batchsize

    def tables(self) -> list[str]:
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("JdbcEndpoint.tables() needs an active SparkSession")
        return list_jdbc_tables(spark, self.url)

    def plan(self, spark: SparkSession, table: str) -> JdbcScanPlan:
        stats = fetch_table_stats(spark, self.url, table, self.pk_cols.get(table))
        return plan_jdbc_scan(
            table,
            stats,
            target_rows_per_partition=self.target_rows_per_partition,
            max_partitions=self.max_partitions,
        )

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return read_jdbc(spark, self.url, self.plan(spark, table))

    def read_range(
        self, spark: SparkSession, table: str, pk: str, lower_exclusive: int
    ) -> DataFrame:
        """Keyset continuation: rows with pk > watermark, still
        partitioned — the reference's resume cursor
        (lib/taps/data_stream.rb:15-25) pushed down as a predicate."""
        stats = fetch_table_stats(spark, self.url, table, pk)
        if stats.n_rows == 0 or stats.pk_max is None or stats.pk_max <= lower_exclusive:
            return self.read(spark, table).limit(0)
        remaining = TableStats(
            n_rows=stats.n_rows,
            pk=pk,
            pk_min=max(stats.pk_min or 0, lower_exclusive + 1),
            pk_max=stats.pk_max,
        )
        plan = plan_jdbc_scan(
            table,
            remaining,
            target_rows_per_partition=self.target_rows_per_partition,
            max_partitions=self.max_partitions,
        )
        df = read_jdbc(spark, self.url, plan)
        # Partition bounds only split ranges; they do not filter. The
        # explicit predicate is pushed into every partition's query.
        return df.filter(F.col(pk) > F.lit(lower_exclusive))

    def write(
        self, spark: SparkSession, table: str, df: DataFrame, key_cols: list[str] | None
    ) -> int:
        if key_cols and table.lower() in self.tables():
            # Idempotent append: anti-join the keys already present
            # (pruned to key columns at the source). Existence is
            # checked via the catalog — a read error on a live table
            # must raise, not silently re-append (see ADVICE round 1).
            d = jdbc_dialect(self.url)
            cols = ", ".join(quote_ident(c, d) for c in key_cols)
            existing = (
                spark.read.format("jdbc")
                .option("url", self.url)
                .option("dbtable", f"(SELECT {cols} FROM {table}) k")
                .load()
            )
            df = df.join(existing, key_cols, "left_anti")
        from taps_spark.io.sinks import write_jdbc
        from taps_spark.transfer.progress import ProgressMeter

        meter = ProgressMeter()
        write_jdbc(
            meter.instrument(df), self.url, table, mode="append", batchsize=self.batchsize
        )
        return meter.harvest()

    def apply_ddl(self, spark: SparkSession, *statements: str) -> None:
        execute_jdbc_sql(spark, self.url, *statements)

    def publish_staged(self, spark: SparkSession, table: str, df: DataFrame) -> None:
        """Replace `table` via a staged swap instead of in-place
        overwrite: load the full dataset into `<table>_stage`, then
        flip names.  The reference drops the target BEFORE reloading
        it (lib/taps/schema.rb `down` then `up`) — a crashed push
        leaves nothing; here a crash before the flip leaves the OLD
        table fully intact and a crash between renames is repaired by
        re-running (the stage table is rebuilt from scratch).

        On dialects with transactional DDL (Postgres) the three
        renames belong in one transaction for a truly atomic flip;
        Derby autocommits DDL, so the swap is near-atomic (a reader
        can observe a missing-table window of two statements) — the
        honest embedded-engine approximation, stated rather than
        hidden.
        """
        existing = set(self.tables())
        stage, old = f"{table}_stage", f"{table}_old"
        for leftover in (stage, old):
            if leftover.lower() in existing:
                execute_jdbc_sql(spark, self.url, f"DROP TABLE {leftover}")
        from taps_spark.io.sinks import write_jdbc

        write_jdbc(df, self.url, stage, mode="overwrite", batchsize=self.batchsize)

        # RENAME TABLE x TO y is Derby/MySQL syntax; everything else
        # (Postgres, SQLite) spells it ALTER TABLE x RENAME TO y.
        if jdbc_dialect(self.url) in ("derby", "mysql"):
            def _rename(src: str, dst: str) -> str:
                return f"RENAME TABLE {src} TO {dst}"
        else:
            def _rename(src: str, dst: str) -> str:
                return f"ALTER TABLE {src} RENAME TO {dst}"

        statements = []
        if table.lower() in existing:
            statements.append(_rename(table, old))
        statements.append(_rename(stage, table))
        execute_jdbc_sql(spark, self.url, *statements)
        if table.lower() in existing:
            execute_jdbc_sql(spark, self.url, f"DROP TABLE {old}")


# --------------------------------------------------------------------------
# DDL passthrough (not expressible as DataFrame ops)
# --------------------------------------------------------------------------


def create_index_sql(
    table: str, columns: list[str], unique: bool = False, dialect: str | None = None
) -> str:
    """Deferred secondary-index DDL (reference #13: indexes applied
    AFTER data load as a bulk-load optimization,
    lib/taps/schema.rb:32-58, ordering at lib/taps/operation.rb:245-256).

    With `dialect` set, column names are quoted to resolve against
    Spark-written tables (see quote_ident); the table name stays bare.
    """
    idx = f"idx_{table}_{'_'.join(columns)}"
    u = "UNIQUE " if unique else ""
    cols = (
        ", ".join(quote_ident(c, dialect) for c in columns) if dialect else ", ".join(columns)
    )
    return f"CREATE {u}INDEX {idx} ON {table} ({cols})"


def reset_sequence_sql(
    table: str, pk: str, dialect: str = "postgres", next_value: int | None = None
) -> str:
    """Auto-increment resync after bulk load (reference #14:
    reset_db_sequences, lib/taps/schema.rb:74-80). Derby cannot
    compute the restart point in SQL, so callers pass `next_value`
    (max(pk)+1) explicitly for that dialect."""
    if dialect == "derby":
        if next_value is None:
            raise ValueError("derby RESTART WITH needs an explicit next_value")
        return (
            f"ALTER TABLE {table} ALTER COLUMN {quote_ident(pk, dialect)} "
            f"RESTART WITH {next_value}"
        )
    if dialect == "postgres":
        return (
            f"SELECT setval(pg_get_serial_sequence('{table}', '{pk}'), "
            f"(SELECT COALESCE(MAX({pk}), 1) FROM {table}))"
        )
    if dialect == "mysql":
        return f"ALTER TABLE {table} AUTO_INCREMENT = 1"
    if dialect == "sqlite":
        return (
            f"UPDATE sqlite_sequence SET seq = (SELECT MAX({pk}) FROM {table}) "
            f"WHERE name = '{table}'"
        )
    raise ValueError(f"unknown dialect: {dialect}")
