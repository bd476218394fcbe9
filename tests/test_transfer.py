"""Transfer-layer tests: round-trip parquet→parquet with manifest
resume, idempotent append, checksum verification, validation rules,
chunk-size controller math (mirroring the reference's
spec/chunksize_spec.rb), and the JDBC scan planner."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from taps_spark.errors import CorruptedData, InvalidData
from taps_spark.io import sinks
from taps_spark.io.jdbc import TableStats, create_index_sql, plan_jdbc_scan, reset_sequence_sql
from taps_spark.io.tables import load_table
from taps_spark.transfer.chunking import ChunkSizer
from taps_spark.transfer.manifest import TransferManifest
from taps_spark.transfer.operation import ParquetEndpoint, TransferOperation
from taps_spark.transfer.verify import compare, verify_or_raise
from taps_spark.validation import int_range, varchar_limit, enforce


@pytest.fixture()
def target_dir(tmp_path):
    return str(tmp_path / "target")


def test_round_trip_transfer_with_resume(spark, sf_dir, tmp_path, target_dir):
    manifest_path = str(tmp_path / "manifest.json")
    op = TransferOperation(
        source=ParquetEndpoint(sf_dir),
        target=ParquetEndpoint(target_dir),
        manifest=TransferManifest.load(manifest_path),
        table_pattern="(^region$|^nation$|^supplier$)",
        key_cols={"region": ["r_regionkey"], "nation": ["n_nationkey"], "supplier": ["s_suppkey"]},
    )
    os.makedirs(target_dir, exist_ok=True)
    result = op.run(spark)
    assert set(result.transferred) == {"region", "nation", "supplier"}
    assert result.verified == sorted(["region", "nation", "supplier"]) or set(
        result.verified
    ) == {"region", "nation", "supplier"}

    # Second run: manifest says done → all skipped, nothing duplicated.
    op2 = TransferOperation(
        source=ParquetEndpoint(sf_dir),
        target=ParquetEndpoint(target_dir),
        manifest=TransferManifest.load(manifest_path),
        table_pattern="(^region$|^nation$|^supplier$)",
        key_cols={"region": ["r_regionkey"], "nation": ["n_nationkey"], "supplier": ["s_suppkey"]},
    )
    r2 = op2.run(spark)
    assert set(r2.skipped) == {"region", "nation", "supplier"}
    assert spark.read.parquet(f"{target_dir}/nation.parquet").count() == 25


def test_append_idempotent_prevents_duplicates(spark, sf_dir, target_dir):
    nation = load_table(spark, sf_dir, "nation")
    path = f"{target_dir}/nation.parquet"
    n1 = sinks.append_idempotent(spark, nation, path, ["n_nationkey"])
    assert n1 == 25
    # Retry the whole write (at-least-once delivery) → zero new rows.
    n2 = sinks.append_idempotent(spark, nation, path, ["n_nationkey"])
    assert n2 == 0
    assert spark.read.parquet(path).count() == 25
    # Partial overlap: keys 0-24 exist, shifted rows carry 20-44 →
    # only 25-44 (20 rows) are new.
    shifted = nation.withColumn("n_nationkey", F.col("n_nationkey") + 20)
    n3 = sinks.append_idempotent(spark, shifted, path, ["n_nationkey"])
    assert n3 == 20
    assert spark.read.parquet(path).count() == 45


def test_sink_read_errors_are_not_treated_as_empty(spark, tmp_path):
    """A corrupt (non-parquet) target must RAISE, not be treated as an
    empty sink: append_idempotent would re-duplicate every row and
    merge_upsert would overwrite the whole target with just the
    updates."""
    import pytest

    bad = tmp_path / "corrupt_target"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"this is not parquet data")
    df = spark.createDataFrame([(1, "a")], ["id", "name"])
    with pytest.raises(Exception):
        sinks.append_idempotent(spark, df, str(bad), ["id"])
    with pytest.raises(Exception):
        sinks.merge_upsert(spark, df, str(bad), ["id"])
    # Corrupt contents survived untouched (no silent overwrite).
    assert (bad / "part-00000.parquet").read_bytes() == b"this is not parquet data"


def test_missing_sink_path_still_treated_as_empty(spark, tmp_path):
    """PATH_NOT_FOUND stays the bootstrap path: first write works."""
    path = str(tmp_path / "fresh_target")
    df = spark.createDataFrame([(1, "a")], ["id", "name"])
    assert sinks.append_idempotent(spark, df, path, ["id"]) == 1
    stats = sinks.merge_upsert(spark, df, str(tmp_path / "fresh2"), ["id"])
    assert stats == {"updated": 0, "inserted": 1}


def test_checksum_verify_detects_corruption(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    assert compare(nation, nation).ok
    corrupted = nation.withColumn(
        "n_name", F.when(F.col("n_nationkey") == 3, F.lit("XX")).otherwise(F.col("n_name"))
    )
    report = compare(nation, corrupted)
    assert not report.ok and report.n_rows[0] == report.n_rows[1]
    with pytest.raises(CorruptedData):
        verify_or_raise(nation, corrupted, "nation")
    # Row-order permutation must NOT trip the checksum (order-insensitive).
    assert compare(nation, nation.orderBy(F.rand(seed=7))).ok


def test_validation_rules(spark, sf_dir):
    customer = load_table(spark, sf_dir, "customer")
    # Real data passes its declared shape.
    enforce(customer, [varchar_limit("c_name", 25), int_range("c_custkey", 0)])
    # Tight limits trip InvalidData with per-rule counts, like the
    # reference's varchar-length spec (spec/utils_spec.rb).
    with pytest.raises(InvalidData) as ei:
        enforce(customer, [varchar_limit("c_name", 5)])
    assert "c_name_varchar_5" in str(ei.value)
    with pytest.raises(InvalidData):
        enforce(customer, [int_range("c_custkey", 0, 10)])


def test_chunksizer_matches_reference_controller():
    """Pin the adaptive controller to the behavior documented in
    lib/taps/chunksize.rb:37-51 / spec/chunksize_spec.rb."""
    # slow (>3s) → size/3
    assert ChunkSizer(chunksize=3000).on_success(4.0) == 1000
    # ... with CEILING division, like Ruby's (chunksize/3).ceil
    assert ChunkSizer(chunksize=1000).on_success(4.0) == 334
    # mildly slow (>1.1s) → −100
    assert ChunkSizer(chunksize=1000).on_success(1.5) == 900
    # fast (<0.8s) → ×2
    assert ChunkSizer(chunksize=1000).on_success(0.2) == 2000
    # in-band → +100
    assert ChunkSizer(chunksize=1000).on_success(1.0) == 1100
    # floor at 1
    assert ChunkSizer(chunksize=2).on_success(5.0) == 1
    # idle time subtracted (reference chunksize.rb:21-23)
    assert ChunkSizer(chunksize=1000).on_success(1.5, idle=1.0) == 2000
    # disconnect crash-back: 10 then 1, exhausted after 2 retries
    cs = ChunkSizer(chunksize=5000)
    assert cs.on_disconnect() == 10
    assert cs.on_disconnect() == 1
    assert not cs.exhausted
    cs.on_disconnect()
    assert cs.exhausted
    # success right after a disconnect keeps the reset size unchanged
    # (reference calc_new_chunksize: retries > 0 → chunksize) — a
    # reset 10 must not immediately double
    cs3 = ChunkSizer(chunksize=5000)
    assert cs3.on_disconnect() == 10
    assert cs3.on_success(0.1) == 10
    assert cs3.retries == 0
    assert cs3.on_success(0.1) == 20  # next success adapts again
    # trained average acts as a floor after the window
    cs2 = ChunkSizer(chunksize=1000, train_window=2)
    cs2.on_success(1.0)  # 1100, avg 1100
    cs2.on_success(1.0)  # 1200, avg 1150
    assert cs2.on_success(4.0) >= 1150  # would be /3 without the floor


def test_jdbc_scan_planner():
    plan = plan_jdbc_scan(
        "orders",
        TableStats(n_rows=100_000_000, pk="o_orderkey", pk_min=1, pk_max=150_000_000),
        target_rows_per_partition=1_000_000,
    )
    assert plan.parallel
    assert plan.options["partitionColumn"] == "o_orderkey"
    assert plan.options["lowerBound"] == "1"
    assert plan.options["upperBound"] == "150000001"
    assert plan.options["numPartitions"] == "100"

    # No PK → explicit single-cursor fallback (the reference's offset
    # path), never a silent wrong-parallel plan.
    fallback = plan_jdbc_scan("blob_table", TableStats(n_rows=10))
    assert not fallback.parallel
    assert "partitionColumn" not in fallback.options

    # cap at max_partitions
    big = plan_jdbc_scan(
        "huge", TableStats(n_rows=10**12, pk="id", pk_min=0, pk_max=10**12),
        max_partitions=512,
    )
    assert big.options["numPartitions"] == "512"


def test_ddl_passthrough_sql():
    assert (
        create_index_sql("orders", ["o_custkey", "o_orderdate"])
        == "CREATE INDEX idx_orders_o_custkey_o_orderdate ON orders (o_custkey, o_orderdate)"
    )
    assert "UNIQUE" in create_index_sql("t", ["a"], unique=True)
    assert "setval" in reset_sequence_sql("orders", "o_orderkey", "postgres")
    assert "AUTO_INCREMENT" in reset_sequence_sql("orders", "o_orderkey", "mysql")
    assert "sqlite_sequence" in reset_sequence_sql("orders", "o_orderkey", "sqlite")


def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    from taps_spark.io.sinks import merge_upsert

    path = str(tmp_path / "target")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["id", "name", "val"]
    )
    stats = merge_upsert(spark, base, path, ["id"])
    assert stats == {"updated": 0, "inserted": 3}

    updates = spark.createDataFrame(
        [(2, "b2", 21.0), (4, "d", 40.0)], ["id", "name", "val"]
    )
    stats = merge_upsert(spark, updates, path, ["id"])
    assert stats == {"updated": 1, "inserted": 1}

    got = {r["id"]: (r["name"], r["val"]) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 21.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_merge_upsert_is_idempotent_on_replay(spark, tmp_path):
    from taps_spark.io.sinks import merge_upsert

    path = str(tmp_path / "target")
    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], ["id", "val"])
    merge_upsert(spark, df, path, ["id"])
    merge_upsert(spark, df, path, ["id"])  # replay: same keys, same rows
    rows = spark.read.parquet(path).collect()
    assert len(rows) == 2


def test_transfer_meters_rows_during_write(spark, sf_dir, tmp_path, target_dir):
    """Progress metering (§2a-23): non-keyed appends report exact rows
    moved, observed during the write action itself — no count job."""
    op = TransferOperation(
        source=ParquetEndpoint(sf_dir),
        target=ParquetEndpoint(target_dir),
        manifest=TransferManifest.load(str(tmp_path / "m.json")),
        table_pattern="(^region$|^nation$)",
        verify=False,
    )
    os.makedirs(target_dir, exist_ok=True)
    result = op.run(spark)
    assert result.transferred == {"region": 5, "nation": 25}


def test_merge_upsert_partitioned_rewrites_only_touched_partitions(spark, tmp_path):
    """Partition-pruned MERGE: updates touching one partition must
    leave every other partition's files physically untouched (same
    inode set) while update/insert semantics hold."""
    import os

    from taps_spark.io.sinks import merge_upsert_partitioned

    path = str(tmp_path / "ptarget")
    base = spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"), (4, "d", "p3")],
        ["id", "val", "part"],
    )
    stats = merge_upsert_partitioned(spark, base, path, ["id"], "part")
    assert stats == {"updated": 0, "inserted": 4, "partitions": 0}

    def files_of(part):
        d = os.path.join(path, f"part={part}")
        return {
            (f, os.stat(os.path.join(d, f)).st_mtime_ns)
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    p2_before, p3_before = files_of("p2"), files_of("p3")

    updates = spark.createDataFrame(
        [(1, "A", "p1"), (9, "new", "p1")], ["id", "val", "part"]
    )
    stats = merge_upsert_partitioned(spark, updates, path, ["id"], "part")
    assert stats == {"updated": 1, "inserted": 1, "partitions": 1}

    # Untouched partitions: identical files, identical mtimes.
    assert files_of("p2") == p2_before
    assert files_of("p3") == p3_before

    got = {
        (r["id"], r["val"], r["part"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == {(1, "A", "p1"), (2, "b", "p1"), (9, "new", "p1"),
                   (3, "c", "p2"), (4, "d", "p3")}


def test_merge_upsert_partitioned_high_cardinality_bounds_driver_collect(
    spark, tmp_path, monkeypatch
):
    """Above max_collect_partitions distinct partition values, the
    partition-value list must never be materialized on the driver
    (broadcast semi-join prune instead) — every DataFrame.collect
    during the merge stays <= cap+1 rows — and the merge result must
    be identical to the isin path's."""
    # Patch the CONCRETE class (pyspark 4's classic DataFrame overrides
    # the abstract pyspark.sql.DataFrame.collect, so patching the base
    # would intercept nothing).
    from pyspark.sql.classic.dataframe import DataFrame

    from taps_spark.io.sinks import merge_upsert_partitioned

    path = str(tmp_path / "hc_target")
    base = spark.createDataFrame(
        [(i, f"v{i}", f"p{i % 40}") for i in range(200)], ["id", "val", "part"]
    )
    merge_upsert_partitioned(spark, base, path, ["id"], "part")

    collected_sizes = []
    real_collect = DataFrame.collect

    def spying_collect(self):
        rows = real_collect(self)
        collected_sizes.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", spying_collect)
    updates = spark.createDataFrame(
        [(i, "UP", f"p{i % 40}") for i in range(40)], ["id", "val", "part"]
    )
    cap = 5  # 40 distinct values >> cap forces the semi-join path
    stats = merge_upsert_partitioned(
        spark, updates, path, ["id"], "part", max_collect_partitions=cap
    )
    monkeypatch.undo()

    assert stats == {"updated": 40, "inserted": 0, "partitions": 40}
    assert collected_sizes, "the capped limit().collect() probe must still run"
    assert max(collected_sizes) <= cap + 1
    got = {(r["id"], r["val"]) for r in spark.read.parquet(path).collect()}
    assert all((i, "UP") in got for i in range(40))
    assert all((i, f"v{i}") in got for i in range(40, 200))
    assert len(got) == 200


def test_parallel_table_transfer_matches_sequential(spark, sf_dir, tmp_path):
    """parallelism=3 moves tables on concurrent Spark actions and
    produces exactly the sequential result (same rows, same manifest,
    same verification set); worker threads provably overlap."""
    import threading

    seen_threads = set()

    class Spy(ParquetEndpoint):
        def write(self, spark_, table, df, key_cols):
            seen_threads.add(threading.current_thread().name)
            return super().write(spark_, table, df, key_cols)

    mpath = str(tmp_path / "m.json")
    op = TransferOperation(
        source=ParquetEndpoint(sf_dir),
        target=Spy(str(tmp_path / "lake")),
        manifest=TransferManifest.load(mpath),
        table_pattern="(^region$|^nation$|^supplier$|^customer$)",
        key_cols={
            "region": ["r_regionkey"], "nation": ["n_nationkey"],
            "supplier": ["s_suppkey"], "customer": ["c_custkey"],
        },
        parallelism=3,
    )
    r = op.run(spark)
    assert set(r.transferred) == {"region", "nation", "supplier", "customer"}
    assert set(r.verified) == set(r.transferred)
    assert len(seen_threads) > 1, "expected >1 worker thread"
    m = TransferManifest.load(mpath)
    assert all(m.is_complete(t) for t in r.transferred)
    counts = {t: spark.read.parquet(f"{tmp_path}/lake/{t}.parquet").count()
              for t in r.transferred}
    assert counts == {"region": 5, "nation": 25,
                      "supplier": counts["supplier"], "customer": counts["customer"]}
    assert counts["supplier"] > 0 and counts["customer"] > 0
    # A re-run (fresh op, same manifest) skips everything.
    r2 = TransferOperation(
        source=ParquetEndpoint(sf_dir), target=ParquetEndpoint(str(tmp_path / "lake")),
        manifest=TransferManifest.load(mpath),
        table_pattern="(^region$|^nation$|^supplier$|^customer$)",
        parallelism=3,
    ).run(spark)
    assert set(r2.skipped) == set(r.transferred)


def test_merge_apply_changes_deletes_updates_inserts(spark, tmp_path):
    """Full MERGE from a CDC batch: per-key last-writer-wins collapse,
    'D' deletes, others upsert; replaying the same batch is a no-op."""
    target = str(tmp_path / "snapshot")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "key int, val string"
    )
    sinks.write_parquet(base, target, mode="overwrite")

    # Batch carries several ops per key: key1 updated then deleted
    # (delete wins on seq), key2 updated twice (last wins), key4 new.
    changes = spark.createDataFrame(
        [
            (1, 10, "U", "a2"),
            (1, 11, "D", None),
            (2, 20, "U", "b2"),
            (2, 21, "U", "b3"),
            (4, 30, "U", "d"),
        ],
        "key int, seq int, op string, val string",
    )
    stats = sinks.merge_apply_changes(
        spark, changes, target, ["key"], op_col="op", seq_col="seq"
    )
    got = sorted(map(tuple, spark.read.parquet(target).collect()))
    assert got == [(2, "b3"), (3, "c"), (4, "d")]
    assert stats["deleted"] == 1 and stats["inserted"] == 1 and stats["updated"] == 1

    # Replay: identical final state.
    sinks.merge_apply_changes(spark, changes, target, ["key"], op_col="op", seq_col="seq")
    again = sorted(map(tuple, spark.read.parquet(target).collect()))
    assert again == got


def test_chunk_repair_ships_only_missing_rows(spark, sf_dir, tmp_path):
    """audit → repair → verify: delete two whole chunks plus scattered
    rows from a parquet replica, repair from source, end checksum-equal
    — and the repair ships exactly the deleted rows, not the table."""
    from taps_spark.io.tables import load_table
    from taps_spark.transfer.repair import audit_chunks, repair_missing_rows
    from taps_spark.transfer.verify import compare

    source = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    dest_path = str(tmp_path / "orders_replica")
    damaged_pred = (
        "NOT (o_orderkey % 97 = 13 OR o_orderkey DIV 256 IN (2, 3))"
    )
    source.filter(damaged_pred).write.parquet(dest_path)

    dest = spark.read.parquet(dest_path)
    n_deleted = source.count() - dest.count()
    audit = audit_chunks(source, dest, "o_orderkey", chunk_rows=256)
    damaged_ids = {r["chunk_id"] for r in audit.collect()}
    assert {2, 3} <= damaged_ids  # fully-lost chunks surface
    assert all(r["src_rows"] >= r["dst_rows"] for r in audit.collect())

    res = repair_missing_rows(source, dest_path, "o_orderkey", chunk_rows=256)
    assert res.n_rows_shipped == n_deleted  # only the hole, not the table
    assert res.n_damaged_chunks == len(damaged_ids)

    report = compare(source, spark.read.parquet(dest_path))
    assert report.ok

    # Idempotent: a second repair finds nothing to ship.
    res2 = repair_missing_rows(source, dest_path, "o_orderkey", chunk_rows=256)
    assert res2.n_damaged_chunks == 0 and res2.n_rows_shipped == 0


def test_merge_upsert_partitioned_null_partition_survivors(spark, tmp_path):
    """A NULL partition value must not lose bystander rows: isin() is
    three-valued (NULL IN (...) is never true) and a left-semi join
    never matches NULL keys, so both pruning paths previously excluded
    the target's NULL-partition rows from `survivors` while the
    dynamic overwrite still replaced __HIVE_DEFAULT_PARTITION__ —
    silently deleting every non-updated row there."""
    from taps_spark.io.sinks import merge_upsert_partitioned

    for cap, variant in ((1000, "isin"), (1, "semi")):
        path = str(tmp_path / f"null_part_{variant}")
        base = spark.createDataFrame(
            [(1, "a", None), (2, "b", None), (3, "c", "p1"), (4, "d", "p2")],
            "id int, val string, part string",
        )
        merge_upsert_partitioned(spark, base, path, ["id"], "part")

        updates = spark.createDataFrame(
            [(1, "A", None), (3, "C", "p1")], "id int, val string, part string"
        )
        stats = merge_upsert_partitioned(
            spark, updates, path, ["id"], "part", max_collect_partitions=cap
        )
        got = {
            (r["id"], r["val"], r["part"])
            for r in spark.read.parquet(path).collect()
        }
        # Row 2 (NULL partition, not in the updates) must survive.
        assert got == {
            (1, "A", None),
            (2, "b", None),
            (3, "C", "p1"),
            (4, "d", "p2"),
        }, variant
        assert stats == {"updated": 2, "inserted": 0, "partitions": 2}, variant


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _cached_rdd_ids(spark) -> set[int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id() for i in infos if i.numCachedPartitions() > 0}


def _file_listing(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.mark.parametrize("chunk_rows", [None, 100])
def test_keyed_transfer_of_empty_source_lands_and_verifies(spark, sf_dir, tmp_path, chunk_rows):
    """A 0-row source table still lands, whole or chunked: the target
    is created with the source's schema, so the verify pass can read
    it and agree."""
    src = tmp_path / "src"
    load_table(spark, sf_dir, "orders").limit(0).write.parquet(str(src / "orders.parquet"))
    target = str(tmp_path / "lake")
    r = TransferOperation(
        source=ParquetEndpoint(str(src)),
        target=ParquetEndpoint(target),
        manifest=TransferManifest.load(str(tmp_path / "m.json")),
        key_cols={"orders": ["o_orderkey"]},
        chunk_rows=chunk_rows,
    ).run(spark)
    assert r.transferred == {"orders": 0}
    assert r.verified == ["orders"]
    landed = spark.read.parquet(f"{target}/orders.parquet")
    assert landed.count() == 0
    assert landed.schema == spark.read.parquet(str(src / "orders.parquet")).schema


def test_replayed_append_leaves_target_files_unchanged(spark, sf_dir, target_dir):
    """A replay appends nothing and adds no file, not even the
    schema-only one Spark writes for an empty frame; the hidden
    staging directory is gone afterwards."""
    nation = load_table(spark, sf_dir, "nation")
    path = f"{target_dir}/nation.parquet"
    assert sinks.append_idempotent(spark, nation, path, ["n_nationkey"]) == 25
    before = _file_listing(path)
    assert sinks.append_idempotent(spark, nation, path, ["n_nationkey"]) == 0
    assert _file_listing(path) == before
    assert sorted(os.listdir(path)) == sorted({p.split(os.sep)[0] for p in before})


def test_transfer_job_counts(spark, sf_dir, tmp_path):
    """Job counts are deterministic, so pin them: a fresh keyed,
    verified parquet table is source schema inference + write + target
    schema inference + the two-job digest; the rerun adds the target
    key read and the anti-join's broadcast. Nothing stays cached."""
    a = spark.read.parquet(f"{sf_dir}/orders.parquet")
    b = spark.read.parquet(f"{sf_dir}/orders.parquet")
    j = _next_job_id(spark)
    assert compare(a, b).ok
    assert _next_job_id(spark) - j == 2

    cached = _cached_rdd_ids(spark)

    def pull(manifest: str):
        j = _next_job_id(spark)
        r = TransferOperation(
            source=ParquetEndpoint(sf_dir),
            target=ParquetEndpoint(str(tmp_path / "lake")),
            manifest=TransferManifest.load(str(tmp_path / manifest)),
            table_pattern="^orders$",
            key_cols={"orders": ["o_orderkey"]},
        ).run(spark)
        assert r.verified == ["orders"]
        return r.transferred["orders"], _next_job_id(spark) - j

    n, jobs = pull("pull.json")
    assert n > 0 and jobs <= 5
    n, jobs = pull("rerun.json")
    assert n == 0 and jobs <= 7
    assert _cached_rdd_ids(spark) <= cached


def _head_digest(df, cols):
    """The per-side global aggregate the digest was defined by before
    both sides shared one aggregate."""
    row_h = F.xxhash64(*[F.col(c) for c in cols])
    r = df.select(*cols).agg(
        F.count("*").alias("n"),
        F.bit_xor(row_h).alias("x"),
        F.sum(row_h.cast("decimal(38,0)")).alias("s"),
    ).collect()[0]
    return r["n"], r["x"], int(r["s"] or 0)


def test_digest_matches_per_side_formula(spark, tmp_path):
    """compare's one-aggregate digest equals the per-side formula, on
    rows with nulls, across a sink whose column order differs, and
    per side in that side's own column types (hashing before the union
    keeps an int source from being hashed as the sink's bigint)."""
    from datetime import date

    src = spark.createDataFrame(
        [
            (1, "a", 1.5, date(2020, 1, 1)),
            (2, None, None, date(2020, 1, 2)),
            (3, "c", 2.5, None),
            (None, None, None, None),
        ],
        "id int, name string, val double, d date",
    )
    path = str(tmp_path / "reordered")
    src.select("d", "val", "name", "id").write.parquet(path)
    sink = spark.read.parquet(path)
    cols = sorted(src.columns)

    r = compare(src, sink)
    want = _head_digest(src, cols)
    assert want[0] == 4 and want[1] is not None
    assert (r.n_rows[0], r.xor_hash[0], r.sum_hash[0]) == want
    assert (r.n_rows[1], r.xor_hash[1], r.sum_hash[1]) == want
    assert r.ok

    wide = sink.withColumn("id", F.col("id").cast("bigint"))
    r = compare(src, wide)
    assert (r.n_rows[0], r.xor_hash[0], r.sum_hash[0]) == want
    assert (r.n_rows[1], r.xor_hash[1], r.sum_hash[1]) == _head_digest(wide, cols)
    assert r.xor_hash[0] != r.xor_hash[1]

    empty = compare(src.limit(0), sink.limit(0))
    assert empty.n_rows == (0, 0) and empty.xor_hash == (None, None) and empty.ok
