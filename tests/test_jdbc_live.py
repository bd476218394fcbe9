"""Live JDBC end-to-end: the reference's core loop (Sequel.connect →
keyset reads → bulk insert → indexes → sequences,
lib/taps/operation.rb:129-131, lib/taps/data_stream.rb:279-312)
executed against a REAL SQL database — embedded Apache Derby, which
ships on Spark's classpath, so the whole JDBC surface (partitioned
reads, batched writes, catalog discovery, DDL execution) runs without
any extra install.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from taps_spark.io.jdbc import (
    JdbcEndpoint,
    execute_jdbc_sql,
    fetch_table_stats,
    jdbc_dialect,
    list_jdbc_tables,
    plan_jdbc_scan,
    query_jdbc_rows,
    read_jdbc,
)
from taps_spark.io.tables import load_table
from taps_spark.transfer.manifest import TransferManifest
from taps_spark.transfer.operation import ParquetEndpoint, TransferOperation


@pytest.fixture(scope="module")
def derby_url(tmp_path_factory):
    db = tmp_path_factory.mktemp("derby") / "livedb"
    return f"jdbc:derby:{db};create=true"


@pytest.fixture(scope="module")
def seeded(spark, sf_dir, derby_url):
    """Seed Derby with nation + region from the fixtures over JDBC."""
    for t in ("nation", "region"):
        load_table(spark, sf_dir, t).write.format("jdbc").option("url", derby_url).option(
            "dbtable", t
        ).mode("overwrite").save()
    return derby_url


def test_dialect_detection():
    assert jdbc_dialect("jdbc:derby:/tmp/x;create=true") == "derby"
    assert jdbc_dialect("jdbc:postgresql://h/db") == "postgresql"
    with pytest.raises(ValueError):
        jdbc_dialect("not-a-url")


def test_catalog_discovery_live(spark, seeded):
    assert list_jdbc_tables(spark, seeded) == ["nation", "region"]


def test_stats_and_partitioned_read_live(spark, sf_dir, seeded):
    """plan_jdbc_scan's options drive a real parallel keyset read."""
    stats = fetch_table_stats(spark, seeded, "nation", "n_nationkey")
    assert (stats.n_rows, stats.pk_min, stats.pk_max) == (25, 0, 24)
    plan = plan_jdbc_scan("nation", stats, target_rows_per_partition=7, max_partitions=8)
    assert plan.parallel
    df = read_jdbc(spark, seeded, plan)
    assert df.rdd.getNumPartitions() == int(plan.options["numPartitions"]) > 1
    # Values survive the JDBC round trip exactly.
    src = load_table(spark, sf_dir, "nation")
    assert sorted(df.select("n_nationkey", "n_name").collect()) == sorted(
        src.select("n_nationkey", "n_name").collect()
    )


def _spark_jdbc_row(spark, url: str, sql: str):
    return spark.read.format("jdbc").option("url", url).option(
        "dbtable", f"({sql}) q"
    ).load().head()


def test_jdbc_metadata_runs_no_spark_job(spark, seeded):
    """Catalog listing and table stats are one-row answers read over a
    driver-side connection: no Spark job, and the values a Spark JDBC
    read of the same aggregates returns, the empty table included."""
    execute_jdbc_sql(spark, seeded, 'CREATE TABLE stats_empty ("id" BIGINT)')
    try:
        dag = spark.sparkContext._jsc.sc().dagScheduler()
        j = dag.nextJobId()
        tables = list_jdbc_tables(spark, seeded)
        keyed = fetch_table_stats(spark, seeded, "nation", "n_nationkey")
        unkeyed = fetch_table_stats(spark, seeded, "region", None)
        empty = fetch_table_stats(spark, seeded, "stats_empty", "id")
        assert dag.nextJobId() - j == 0

        assert tables == ["nation", "region", "stats_empty"]
        want = _spark_jdbc_row(
            spark, seeded,
            'SELECT COUNT(*) AS n, MIN("n_nationkey") AS lo, MAX("n_nationkey") AS hi FROM nation',
        )
        assert (keyed.n_rows, keyed.pk_min, keyed.pk_max) == tuple(want)
        want = _spark_jdbc_row(spark, seeded, "SELECT COUNT(*) AS n FROM region")
        assert (unkeyed.n_rows, unkeyed.pk) == (want[0], None)
        assert (empty.n_rows, empty.pk, empty.pk_min, empty.pk_max) == (0, "id", None, None)
    finally:
        execute_jdbc_sql(spark, seeded, "DROP TABLE stats_empty")


def test_pull_from_live_database_and_verify(spark, seeded, tmp_path):
    """Full pull: live Derby → parquet, hash-verified, resumable."""
    manifest = TransferManifest.load(str(tmp_path / "manifest.json"))
    op = TransferOperation(
        source=JdbcEndpoint(seeded, pk_cols={"nation": "n_nationkey", "region": "r_regionkey"},
                            target_rows_per_partition=10, max_partitions=4),
        target=ParquetEndpoint(str(tmp_path / "lake")),
        manifest=manifest,
        key_cols={"nation": ["n_nationkey"], "region": ["r_regionkey"]},
    )
    r = op.run(spark)
    assert r.transferred == {"nation": 25, "region": 5}
    assert set(r.verified) == {"nation", "region"}
    assert r.phases == ["schema", "data"]
    # Resume: both tables complete → skipped, nothing re-read.
    r2 = TransferOperation(
        source=JdbcEndpoint(seeded), target=ParquetEndpoint(str(tmp_path / "lake")),
        manifest=TransferManifest.load(str(tmp_path / "manifest.json")),
    ).run(spark)
    assert set(r2.skipped) == {"nation", "region"}


def test_push_to_live_database_idempotent(spark, sf_dir, derby_url, tmp_path):
    """Push: parquet → live Derby with keyed idempotent append; a
    retried push writes zero new rows (reference dup-PK protocol #18,
    prevented rather than repaired)."""
    ep = JdbcEndpoint(derby_url, pk_cols={"pushed_nation": "n_nationkey"})
    nation = load_table(spark, sf_dir, "nation")
    n1 = ep.write(spark, "pushed_nation", nation, ["n_nationkey"])
    assert n1 == 25
    n2 = ep.write(spark, "pushed_nation", nation, ["n_nationkey"])
    assert n2 == 0
    back = ep.read(spark, "pushed_nation")
    assert back.count() == 25


def test_index_and_sequence_phases_execute_on_live_db(spark, seeded, tmp_path):
    """Index DDL and the phase order actually execute on Derby
    (reference operation.rb:245-257: schema → data → indexes →
    sequences), and --indexes-first flips the order."""
    manifest = TransferManifest.load(str(tmp_path / "m.json"))
    source = ParquetEndpoint(str(tmp_path / "src"))
    # Seed a small source lake from the live db.
    ep = JdbcEndpoint(seeded, pk_cols={"nation": "n_nationkey"})
    src_df = ep.read(spark, "nation")
    src_df.write.parquet(f"{tmp_path}/src/idxnation.parquet")

    target = JdbcEndpoint(seeded, pk_cols={"idxnation": "n_nationkey"})
    op = TransferOperation(
        source=source,
        target=target,
        manifest=manifest,
        key_cols={"idxnation": ["n_nationkey"]},
        # numeric columns only: Spark maps StringType → Derby CLOB,
        # which Derby cannot index
        indexes={"idxnation": [["n_regionkey"], ["n_nationkey"]]},
        ddl_dialect="derby",
        verify=False,  # verify re-reads via JdbcEndpoint.plan (no pk stats for fresh table pre-write)
    )
    r = op.run(spark)
    assert r.phases == ["schema", "data", "indexes"]
    assert len(r.ddl_applied) == 2
    # The indexes exist in Derby's catalog.
    idx = query_jdbc_rows(
        spark, seeded,
        "SELECT CONGLOMERATENAME FROM SYS.SYSCONGLOMERATES "
        "WHERE CONGLOMERATENAME LIKE 'IDX_IDXNATION%'",
    )
    assert len(idx) == 2

    # indexes_first flips phase order (fresh manifest/table name).
    op2 = TransferOperation(
        source=source,
        target=JdbcEndpoint(seeded),
        manifest=TransferManifest.load(str(tmp_path / "m2.json")),
        table_pattern="^idxnation$",
        indexes={"idxnation": [["n_nationkey", "n_regionkey"]]},
        ddl_dialect="derby",
        indexes_first=True,
        verify=False,
    )
    r2 = op2.run(spark)
    assert r2.phases == ["schema", "indexes", "data"]


def test_sequence_restart_live(spark, seeded):
    """Derby identity column RESTART (reference #14 executed live):
    after a bulk load with explicit ids, the next generated id must
    not collide."""
    execute_jdbc_sql(
        spark, seeded,
        "CREATE TABLE seqdemo (id BIGINT GENERATED BY DEFAULT AS IDENTITY PRIMARY KEY, "
        "name VARCHAR(20))",
        "INSERT INTO seqdemo (id, name) VALUES (50, 'bulk')",
        "ALTER TABLE seqdemo ALTER COLUMN id RESTART WITH 51",
        "INSERT INTO seqdemo (name) VALUES ('auto')",
    )
    ids = query_jdbc_rows(spark, seeded, "SELECT id FROM seqdemo ORDER BY id")
    assert [int(i) for (i,) in ids] == [50, 51]


class _FailAfterFirstChunk:
    """Target wrapper that dies after N successful chunk writes —
    simulates a mid-table crash for the watermark-resume proof."""

    def __init__(self, inner, fail_after: int):
        self.inner = inner
        self.writes = 0
        self.fail_after = fail_after
        self.rows_per_write: list[int] = []

    def tables(self):
        return self.inner.tables()

    def read(self, spark, table):
        return self.inner.read(spark, table)

    def write(self, spark, table, df, key_cols):
        if self.writes >= self.fail_after:
            raise RuntimeError("simulated crash mid-table")
        self.writes += 1
        n = self.inner.write(spark, table, df, key_cols)
        self.rows_per_write.append(n)
        return n


def test_midtable_watermark_resume(spark, sf_dir, tmp_path):
    """Kill-and-resume: crash after the first of four chunks; the
    resumed run starts from the watermark (pk > wm pushed into the
    scan) and provably skips the already-written pk range."""
    src = ParquetEndpoint(sf_dir)
    lake = str(tmp_path / "lake")
    mpath = str(tmp_path / "m.json")
    flaky = _FailAfterFirstChunk(ParquetEndpoint(lake), fail_after=1)
    op = TransferOperation(
        source=src,
        target=flaky,
        manifest=TransferManifest.load(mpath),
        table_pattern="^nation$",
        key_cols={"nation": ["n_nationkey"]},
        chunk_rows=7,  # 25 rows → 4 chunks
        verify=False,
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        op.run(spark)

    m = TransferManifest.load(mpath)
    wm = m.watermark("nation")
    assert wm is not None and 0 <= wm < 24  # first chunk's upper bound
    first_chunk_rows = flaky.rows_per_write[0]
    assert 0 < first_chunk_rows < 25

    # Resume: a fresh run reads ONLY pk > watermark.
    op2 = TransferOperation(
        source=src,
        target=ParquetEndpoint(lake),
        manifest=TransferManifest.load(mpath),
        table_pattern="^nation$",
        key_cols={"nation": ["n_nationkey"]},
        chunk_rows=7,
        verify=True,
    )
    r2 = op2.run(spark)
    assert r2.resumed_from == {"nation": wm}
    # The resumed run transferred exactly the complement.
    assert r2.transferred["nation"] == 25 - first_chunk_rows
    assert spark.read.parquet(f"{lake}/nation.parquet").count() == 25
    # Manifest closed out: complete, cursor cleared.
    m3 = TransferManifest.load(mpath)
    assert m3.is_complete("nation")
    assert m3.watermark("nation") is None


def test_jdbc_read_range_pushdown(spark, seeded):
    """read_range returns only pk > watermark rows, still partitioned."""
    ep = JdbcEndpoint(seeded, pk_cols={"nation": "n_nationkey"},
                      target_rows_per_partition=5, max_partitions=4)
    df = ep.read_range(spark, "nation", "n_nationkey", lower_exclusive=19)
    rows = sorted(r["n_nationkey"] for r in df.collect())
    assert rows == [20, 21, 22, 23, 24]
    # Past-the-end watermark → empty continuation.
    assert ep.read_range(spark, "nation", "n_nationkey", 24).count() == 0


@pytest.mark.parametrize("fail_after", [2, 3])
def test_midtable_resume_any_crash_point(spark, sf_dir, tmp_path, fail_after):
    """Crash after N chunks (any N) → resume transfers exactly the
    complement; total content is exact with zero duplicates."""
    src = ParquetEndpoint(sf_dir)
    lake = str(tmp_path / f"lake{fail_after}")
    mpath = str(tmp_path / f"m{fail_after}.json")
    flaky = _FailAfterFirstChunk(ParquetEndpoint(lake), fail_after=fail_after)
    op = TransferOperation(
        source=src, target=flaky, manifest=TransferManifest.load(mpath),
        table_pattern="^nation$", key_cols={"nation": ["n_nationkey"]},
        chunk_rows=7, verify=False,
    )
    with pytest.raises(RuntimeError):
        op.run(spark)
    written = sum(flaky.rows_per_write)
    r2 = TransferOperation(
        source=src, target=ParquetEndpoint(lake), manifest=TransferManifest.load(mpath),
        table_pattern="^nation$", key_cols={"nation": ["n_nationkey"]},
        chunk_rows=7,
    ).run(spark)
    assert r2.transferred["nation"] == 25 - written
    out = spark.read.parquet(f"{lake}/nation.parquet")
    assert out.count() == 25
    assert out.select("n_nationkey").distinct().count() == 25


def test_jdbc_v2_catalog_pushes_aggregate_into_database(spark, seeded):
    """DataSource V2 JDBCTableCatalog: COUNT/GROUP BY compile into the
    database (PushedAggregates in the scan) instead of shipping rows
    to Spark — at 100 TB the difference between moving 25 rows of
    aggregate and the whole table over JDBC."""
    spark.conf.set(
        "spark.sql.catalog.livedb",
        "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog",
    )
    spark.conf.set("spark.sql.catalog.livedb.url", seeded)
    spark.conf.set("spark.sql.catalog.livedb.pushDownAggregate", "true")
    try:
        # Derby folds unquoted identifiers to upper case; the catalog
        # exposes them verbatim (namespace APP, table NATION).
        df = spark.sql(
            "SELECT n_regionkey, COUNT(*) AS n "
            "FROM livedb.APP.NATION GROUP BY n_regionkey"
        )
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "PushedAggregates: [COUNT(*)]" in plan, plan
        assert "PushedGroupByExpressions: [n_regionkey]" in plan, plan
        got = {r["n_regionkey"]: r["n"] for r in df.collect()}
        assert got == {0: 5, 1: 5, 2: 5, 3: 5, 4: 5}
        # Predicate pushdown rides along on the v2 path too.
        f = spark.sql("SELECT n_name FROM livedb.APP.NATION WHERE n_nationkey = 7")
        fplan = f._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "n_nationkey = 7" in fplan and "PushedFilters" in fplan
        assert f.count() == 1
    finally:
        for k in (
            "spark.sql.catalog.livedb",
            "spark.sql.catalog.livedb.url",
            "spark.sql.catalog.livedb.pushDownAggregate",
        ):
            spark.conf.unset(k)


def test_publish_staged_swaps_without_data_loss(spark, sf_dir, derby_url):
    """Staged publish: the new dataset replaces the table by rename
    flip; no stage/old leftovers remain, and re-publishing is safe."""
    ep = JdbcEndpoint(derby_url)
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    ep.publish_staged(spark, "pubtest", nation.filter(F.col("n_nationkey") < 5))
    assert (
        spark.read.format("jdbc").option("url", derby_url)
        .option("dbtable", "pubtest").load().count() == 5
    )

    ep.publish_staged(spark, "pubtest", nation)  # full replace
    got = (
        spark.read.format("jdbc").option("url", derby_url)
        .option("dbtable", "pubtest").load()
    )
    assert got.count() == nation.count()
    tables = set(ep.tables())
    assert "pubtest" in tables
    assert "pubtest_stage" not in tables and "pubtest_old" not in tables


def test_cli_pull_from_live_database(spark, seeded, tmp_path, capsys, monkeypatch):
    """The user-facing CLI moves rows out of a LIVE SQL database: taps
    pull <local> <jdbc-url> lands both seeded tables in the parquet
    lake and hash-verifies them — the reference's headline workflow
    (bin/taps pull) end to end through taps_spark/cli.py."""
    import json as _json
    import os as _os

    from taps_spark.cli import main as cli_main

    monkeypatch.chdir(tmp_path)
    lake = str(tmp_path / "from_derby")
    rc = cli_main(
        [
            "pull", lake, seeded,
            "-t", "nation,region",
            "--keys", "nation:n_nationkey,region:r_regionkey",
        ]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out)
    assert out["transferred"] == {"nation": 25, "region": 5}
    assert sorted(out["verified"]) == ["nation", "region"]
    assert spark.read.parquet(_os.path.join(lake, "nation.parquet")).count() == 25


def test_cli_schema_console(spark, seeded, tmp_path, capsys):
    """bin/schema console parity through the CLI: dump emits DDL from
    the live catalog, dump_table scopes to one table, indexes emits
    index DDL for declared keys, load applies a DDL file, and
    reset_db_sequences restarts identities — all against live Derby."""
    from taps_spark.cli import main as cli_main
    from taps_spark.io.jdbc import query_jdbc_rows

    rc = cli_main(["schema", "dump", seeded])
    assert rc == 0
    ddl = capsys.readouterr().out
    assert "CREATE TABLE nation" in ddl and "CREATE TABLE region" in ddl

    rc = cli_main(["schema", "dump_table", seeded, "region"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "CREATE TABLE region" in out and "nation" not in out

    rc = cli_main(["schema", "indexes", seeded, "--keys", "nation:n_nationkey"])
    assert rc == 0
    out = capsys.readouterr().out
    assert 'CREATE INDEX idx_nation_n_nationkey ON nation ("n_nationkey")' in out

    ddl_file = tmp_path / "extra.sql"
    ddl_file.write_text("CREATE TABLE schema_cli_t (id INT, v VARCHAR(8))")
    rc = cli_main(["schema", "load", seeded, str(ddl_file)])
    assert rc == 0
    assert "applied 1 statements" in capsys.readouterr().out
    names = query_jdbc_rows(
        spark, seeded,
        "SELECT tablename FROM SYS.SYSTABLES WHERE tablename = 'SCHEMA_CLI_T'",
    )
    assert names == [("SCHEMA_CLI_T",)]
