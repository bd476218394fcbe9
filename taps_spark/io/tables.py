"""Fixture-table loading.

The driver fixtures are one parquet file per table under an sf dir
(see /root/repo/TESTDATA.md). `load_tables` gives every query a single
way to get its inputs: parquet scans (column-pruned + predicate-pushed
by Catalyst) with the session tuned for oracle parity.

Parity: the reference's table discovery is `db.tables`
(lib/taps/operation.rb:569, lib/taps/server.rb:153); here the catalog
is the fixture directory — see taps_spark.catalog for the
discovery/filter surface.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

from taps_spark.io.sources import read_parquet

#: The full fixture catalog (TESTDATA.md).
TABLE_NAMES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = read_parquet(spark, table_path(sf_dir, name))
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS) — illegal for Spark's
        # reader; with spark.sql.legacy.parquet.nanosAsLong (session.py)
        # it arrives as LongType nanos. Floor-divide to micros (exactly
        # what DuckDB's ns→us narrowing does) so both engines see
        # identical timestamps.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            # integer `div`, not `/`: epoch-nanos exceed double's 2^53
            # exact-integer range, so float division would corrupt the
            # low-order digits.
            # Cast to TIMESTAMP_NTZ: Spark 4 reads the other fixtures'
            # parquet timestamps (isAdjustedToUTC=false) as NTZ, and
            # DuckDB timestamps are naive — keep one timestamp family
            # engine-wide. Session TZ is pinned UTC so the cast is a
            # pure relabel.
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
    return df


def parallelize_cpu(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the scan has fewer partitions than
    cores — for CPU-heavy per-row operators (shingling, hash families,
    vector math) whose input is small but whose map work is not.

    The fixtures are single-file/single-row-group parquet, so Spark
    plans a one-task scan and the whole hash pipeline runs on one core;
    shuffling a few MB to unlock N-way codegen parallelism is a
    >2× win (measured on minhash at sf0.1). At production scale the
    file count exceeds the core count and this is a no-op, so the
    shuffle never appears where it would hurt.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


#: (SparkContext, RDD id) of each barrier built since the last
#: `release()`. Ids, not RDD handles: a handle would keep an unreleased
#: RDD from Spark's ContextCleaner.
_BARRIERS: list[tuple[SparkContext, int]] = []

#: Every scratch dir made since the last `release()`.
_SCRATCH: list[str] = []


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """The engine's one way to materialize a frame: a local checkpoint
    that `release()` frees. Consumers read its rows instead of
    replaying the lineage, and no filter is pushed through it.

    Lazy by default: the blocks fill inside the caller's action, so the
    barrier runs no job of its own (AQE still runs the shuffle stages
    beneath it at build). `eager=True` is for a caller that reads an
    `Observation` of the frame before any action of its own.

    A checkpoint, not `persist()`: the CacheManager substitutes a
    persisted plan into any later plan that matches it, so a second
    call in the same session would read the first call's result.
    Blocks are executor-local and not replicated: losing an executor
    fails the query, which is retried whole (SCALE.md).
    """
    out = df.localCheckpoint(eager=eager)
    rdd_id = out._jdf.queryExecution().analyzed().rdd().id()
    _BARRIERS.append((df.sparkSession.sparkContext, rdd_id))
    return out


def scratch(prefix: str) -> str:
    """The engine's one way to get a temp dir: a fresh directory under
    `tempfile.gettempdir()` for a query's files (a stream's source view,
    sink and checkpoint, a sqlite endpoint). Fresh on every call, so
    nothing one call writes stands in for the next call's input.

    The query's frame may read it lazily, so it lives until `release()`
    removes it after the caller's action, or until the process exits."""
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH.append(d)
    return d


def _remove_scratch() -> None:
    while _SCRATCH:
        shutil.rmtree(_SCRATCH.pop(), ignore_errors=True)


# Callers of `__spark_entry__` and perfbench never call release().
atexit.register(_remove_scratch)


def release() -> None:
    """Free the blocks of every barrier built since the last call, then
    remove every scratch dir, whichever query made them, so its caller
    runs one query at a time. The code that owns the action calls it
    after the action; earlier, a lazy barrier or a lazy scan of a
    scratch dir would have nothing to read. Barriers nobody releases
    are freed by ContextCleaner once their frames are collected."""
    sc = SparkContext._active_spark_context
    ids = [rdd_id for owner, rdd_id in _BARRIERS if owner is sc]
    _BARRIERS.clear()
    held = sc._jsc.getPersistentRDDs() if ids else None
    for rdd_id in ids:
        if held.containsKey(rdd_id):
            held.get(rdd_id).unpersist(True)
    _remove_scratch()


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    """Load fixture tables as DataFrames keyed by name."""
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
