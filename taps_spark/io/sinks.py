"""Sinks: parquet/csv/json/jdbc writers with idempotent append.

Reference parity:
- bulk-insert sink (#11, table.import per chunk,
  lib/taps/data_stream.rb:202-215) → df.write batched appends
- duplicate-PK repair protocol (#18, verify_stream,
  lib/taps/data_stream.rb:217-226, server.rb:72-89) → REPLACED by
  prevention: `append_idempotent` anti-joins already-present keys
  before writing, so at-least-once retries never create duplicates.
  This is a deliberate, documented deviation: Spark's recovery unit
  is the task/stage, not a chunk cursor, so preventing duplicates
  beats repairing them.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taps_spark.io.sources import read_parquet
from taps_spark.transfer.progress import ProgressMeter


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for `path`, whatever its scheme."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _read_parquet_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a parquet target, returning None ONLY when the path does
    not exist yet. Existence is asked of the filesystem, so any failure
    to read a present target (corrupt footer, permission, transient FS
    error) raises: treating it as "sink empty" would silently drop or
    re-duplicate data downstream."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return None
    return read_parquet(spark, path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    codec: str = "zstd",
) -> None:
    """Parquet sink (the reference's transport gzip —
    lib/taps/server.rb:13 — becomes the columnar codec)."""
    w = df.write.mode(mode).option("compression", codec)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def append_idempotent(
    spark: SparkSession, df: DataFrame, path: str, key_cols: list[str], codec: str = "zstd"
) -> int:
    """Append only rows whose key is not already present at the sink.

    The anti-join ships only the sink's key columns (column-pruned
    parquet scan), shuffles on the key, and makes retried transfers
    exactly-once-per-key. Returns the number of appended rows, observed
    during the write itself (transfer/progress.py): one write, no
    count job, no cache.

    A missing target is created with the frame's schema, even when no
    row is new. Into an existing target the write lands in a hidden
    `_`-prefixed staging directory (readers skip it), whose part files
    move up only when rows were appended: Spark writes a schema-only
    file even for an empty frame, and a replayed append must leave the
    target's file listing unchanged.
    """
    meter = ProgressMeter()
    target = _read_parquet_if_exists(spark, path)
    if target is None:
        write_parquet(meter.instrument(df), path, codec=codec)
        return meter.harvest()

    out = df.join(target.select(*key_cols), key_cols, "left_anti")
    fs, root = _fs_path(spark, path)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    staging = Path(root, f"_append_{uuid.uuid4().hex}")
    try:
        write_parquet(meter.instrument(out), staging.toString(), codec=codec)
        n = meter.harvest()
        if n:
            for st in fs.listStatus(staging):
                src = st.getPath()
                if src.getName().startswith(("_", ".")):
                    continue  # commit marker, checksum sidecar
                dst = Path(root, src.getName())
                if not fs.rename(src, dst):
                    raise IOError(f"append_idempotent: could not move {src} to {dst}")
        return n
    finally:
        fs.delete(staging, True)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = 10_000,
    **options: str,
) -> None:
    """JDBC sink: batched multi-row inserts (reference chunksize ≈
    1000 rows/request, lib/taps/data_stream.rb:11 — batchsize is the
    same knob, per executor, in parallel)."""
    (
        df.write.format("jdbc")
        .mode(mode)
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .options(**options)
        .save()
    )


def _staged_swap(df: DataFrame, path: str) -> None:
    """Replace the parquet dir at `path` with `df`: write a sibling
    `__staging` dir, then move the target aside, move the stage in and
    remove the old files (writing in place would read and overwrite the
    same files)."""
    staged = path.rstrip("/") + "__staging"
    write_parquet(df, staged, mode="overwrite")
    old = path.rstrip("/") + "__old"
    shutil.move(path, old)
    shutil.move(staged, path)
    shutil.rmtree(old)
    if not os.path.isdir(path):  # defensive; move must have landed
        raise IOError(f"staged swap failed for {path}")


def merge_upsert(
    spark: SparkSession, updates: DataFrame, path: str, key_cols: list[str]
) -> dict[str, int]:
    """MERGE semantics onto a parquet target: rows matching an
    updates key are replaced, new keys are inserted (the batch upsert
    the reference can't express — its only repair is skip-duplicates,
    lib/taps/data_stream.rb:217-226).

    Parquet has no transaction log, so merge = anti-join survivors ∪
    updates, staged to a sibling directory and atomically swapped
    (writing in place would read and overwrite the same files). At
    100 TB the same call shape maps onto Delta/Iceberg MERGE INTO,
    where only touched files rewrite; with plain parquet, partition
    the target and merge partition-by-partition.

    Returns {"updated": n, "inserted": n}.
    """
    existing = _read_parquet_if_exists(spark, path)
    if existing is None:
        write_parquet(updates, path, mode="overwrite")
        return {"updated": 0, "inserted": updates.count()}

    keys = updates.select(*key_cols)
    survivors = existing.join(keys, key_cols, "left_anti")
    n_existing = existing.count()
    n_survivors = survivors.count()
    merged = survivors.unionByName(updates)

    _staged_swap(merged, path)
    return {
        "updated": n_existing - n_survivors,
        "inserted": updates.count() - (n_existing - n_survivors),
    }


#: Above this many distinct partition values, merge_upsert_partitioned
#: stops collecting the value list to the driver and prunes the target
#: scan with a broadcast semi-join instead (bounded driver memory).
MERGE_PARTITION_ISIN_CAP = 1000


def merge_upsert_partitioned(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key_cols: list[str],
    partition_col: str,
    max_collect_partitions: int = MERGE_PARTITION_ISIN_CAP,
) -> dict[str, int]:
    """MERGE onto a hive-partitioned parquet target, rewriting ONLY
    the partitions the updates touch — the pattern that makes upsert
    viable at 100 TB (a whole-table rewrite is not).

    Mechanics: find the updates' distinct partition values, read just
    those partitions, anti-join out replaced keys, and write
    survivors ∪ updates back with dynamic partition overwrite —
    untouched partitions' files are never read or rewritten. Same
    call shape as Delta/Iceberg MERGE INTO with partition predicates.

    Up to `max_collect_partitions` distinct values, the list is
    collected to the driver and pushed as a static IN partition
    filter (prunes at plan time). Above that — a high-cardinality
    partition column — the value list never reaches the driver: the
    target scan is pruned with a broadcast LEFT SEMI join on the
    partition column, which Spark's dynamic partition pruning turns
    into a runtime partition filter. Either way the dynamic-overwrite
    write below only replaces partitions present in `merged`.

    Returns {"updated": n, "inserted": n, "partitions": n}.
    """
    target = _read_parquet_if_exists(spark, path)
    if target is None:
        write_parquet(updates, path, mode="overwrite", partition_by=[partition_col])
        return {"updated": 0, "inserted": updates.count(), "partitions": 0}

    part_vals = updates.select(partition_col).distinct()
    head = part_vals.limit(max_collect_partitions + 1).collect()
    if len(head) <= max_collect_partitions:
        parts = [r[0] for r in head]
        n_parts = len(parts)
        # A NULL partition value needs its own predicate: isin() is
        # three-valued (NULL IN (...) is never true), so without the
        # isNull branch the target's NULL-partition survivors never
        # reach `merged` while the dynamic overwrite still replaces
        # __HIVE_DEFAULT_PARTITION__ — silently deleting them.
        non_null = [p for p in parts if p is not None]
        cond = (
            F.col(partition_col).isin(non_null) if non_null else F.lit(False)
        )
        if len(non_null) < len(parts):
            cond = cond | F.col(partition_col).isNull()
        touched = target.filter(cond)
    else:
        n_parts = part_vals.count()
        # Same NULL hazard as isin: a left-semi equi-join never
        # matches NULL keys, so prune with the non-null values and
        # union the NULL partition back in when the updates touch it
        # (one broadcast-sized limit(1) probe — no full scan).
        nn_vals = part_vals.filter(F.col(partition_col).isNotNull())
        touched = target.join(F.broadcast(nn_vals), [partition_col], "left_semi")
        updates_hit_null = (
            part_vals.filter(F.col(partition_col).isNull()).limit(1).count() > 0
        )
        if updates_hit_null:
            touched = touched.unionByName(
                target.filter(F.col(partition_col).isNull())
            )
    survivors = touched.join(updates.select(*key_cols), key_cols, "left_anti")
    n_touched = touched.count()
    n_survivors = survivors.count()
    merged = survivors.unionByName(updates.select(*touched.columns))

    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # overwrite + dynamic mode replaces ONLY partitions present in
        # `merged`; all other partitions' files stay untouched.
        (
            merged.write.mode("overwrite")
            .option("compression", "zstd")
            .partitionBy(partition_col)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
    n_updates = updates.count()
    return {
        "updated": n_touched - n_survivors,
        "inserted": n_updates - (n_touched - n_survivors),
        "partitions": n_parts,
    }


def merge_apply_changes(
    spark: SparkSession,
    changes: DataFrame,
    path: str,
    key_cols: list[str],
    op_col: str = "op",
    seq_col: str | None = None,
) -> dict[str, int]:
    """Full MERGE semantics from a CDC change batch: rows with op 'D'
    delete their key from the target, anything else upserts — the
    WHEN MATCHED THEN DELETE clause merge_upsert lacks, i.e. the sink
    half of a change-data-capture pipeline (the query half is
    transfer_cdc_apply's last-writer-wins collapse).

    If `seq_col` is given the batch is first collapsed to each key's
    highest-sequence op (so one batch may carry many ops per key);
    otherwise the batch must be pre-collapsed (one op per key).
    Applying the same batch twice is a no-op by construction —
    deletes of absent keys and upserts to their own values are
    idempotent.

    Scale: same staged-swap parquet mechanics as merge_upsert; on
    Delta/Iceberg this is MERGE INTO ... WHEN MATCHED [AND op='D']
    THEN DELETE WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN
    INSERT, with only touched files rewriting. Only the (small)
    change batch shuffles; use merge_upsert_partitioned's
    partition-pruned shape for partitioned targets.
    """
    if seq_col is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
        changes = (
            changes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    upserts = changes.filter(F.col(op_col) != "D").drop(op_col, *([seq_col] if seq_col else []))
    all_keys = changes.select(*key_cols)

    existing = _read_parquet_if_exists(spark, path)
    if existing is None:
        write_parquet(upserts, path, mode="overwrite")
        return {"deleted": 0, "updated": 0, "inserted": upserts.count()}

    survivors = existing.join(all_keys, key_cols, "left_anti")
    # Exact per-clause counts: key-column-only semi joins (pruned
    # scans, hash shuffles on the key — rows never move for stats).
    existing_keys = existing.select(*key_cols)
    n_deleted = (
        changes.filter(F.col(op_col) == "D")
        .select(*key_cols)
        .join(existing_keys, key_cols, "left_semi")
        .count()
    )
    n_updated = (
        upserts.select(*key_cols).join(existing_keys, key_cols, "left_semi").count()
    )
    n_inserted = upserts.count() - n_updated
    merged = survivors.unionByName(upserts)

    _staged_swap(merged, path)
    return {"deleted": n_deleted, "updated": n_updated, "inserted": n_inserted}
