"""SparkSession construction and tuning.

All engine entry points accept an externally built SparkSession (the
driver harness owns it); `tune()` applies the runtime-settable confs
the engine relies on for determinism (UTC timestamps for oracle
parity) and for sane local-mode performance (AQE, shuffle partition
count ≈ cores). `get_spark()` builds a session for tests/benchmarks
and also applies `STATIC_CONFS`, which only a session builder can set.

The one static conf sizes Spark's compiled-class cache
(`spark.sql.codegen.cache.maxEntries`) to 2048 entries. Spark's default
LRU of 100 is smaller than one pass over the engine's queries, so
every pass recompiled every generated class (measured
working sets: 305–320 classes per perfbench `queries` pass, ~863 per
`bench.py` HEADLINE sweep, 5,486 over the whole registry, which visits
each query once and is not a target). The runtime conf
`spark.sql.codegen.useIdInClassName=false` lets a class be reused when
AQE numbers the same stage differently on a later run.

Scale note: on a real cluster the static confs (executor memory,
shuffle service, dynamic allocation) come from spark-submit; nothing
here assumes local mode except the defaults in `get_spark()`.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Static confs: fixed when the session's SparkContext starts, so they
#: are set only by the builder in `get_spark()` (and the profiling tools'
#: own builders), never by `tune()`, which cannot change them on a
#: running session.
STATIC_CONFS: dict[str, str] = {
    # Compiled-class cache size; sized in the module docstring.
    "spark.sql.codegen.cache.maxEntries": "2048",
}

#: Runtime-settable confs applied to any session the engine touches.
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic timestamp rendering; DuckDB oracle timestamps are
    # UTC-naive, so pin the session timezone.
    "spark.sql.session.timeZone": "UTC",
    # AQE re-plans post-shuffle: coalesces small partitions, rewrites
    # skewed joins, converts sort-merge→broadcast when stats allow.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas exchange (toPandas, pandas UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python UDTFs over Arrow batches too — the default pickle
    # row-at-a-time exchange (BatchEvalPythonUDTF) is the slow path.
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    # The events fixture stores TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects outright; read nanos as LongType and convert to
    # microsecond timestamps in the loader (io/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Leave the whole-stage stage id out of generated class names. AQE
    # numbers stages in the order its query stages finish, which varies
    # run to run, so with the id in the name the same code compiled
    # again under a new name (and a cache miss) on repeated queries.
    "spark.sql.codegen.useIdInClassName": "false",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally owned session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Some confs may be fixed by the owner; never fail a query
            # over a tuning knob.
            pass
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes compiled so far in this JVM: the misses of the
    compiled-class cache. An exact count; the compile-time histogram's
    snapshot is a decaying sample, so sums over it are not counts."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def get_spark(app_name: str = "taps_spark") -> SparkSession:
    """Build a local session for tests/benchmarks.

    Honors SPARK_GRAFT_CPUS for parallelism; shuffle partitions are
    the core count (200 default is wrong at every local scale —
    over-parallelized for tiny data, under for huge).

    Applies `STATIC_CONFS`: the codegen cache holds a whole pass's
    compiled classes, so a repeated query reuses its classes instead of
    recompiling them. Static confs only take effect for the session
    that starts the SparkContext; a session owned by an outside harness
    keeps Spark's default of 100 entries.
    """
    import atexit
    import shutil
    import tempfile

    from pyspark import SparkContext

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if SparkContext._active_spark_context is None:
        # Keep warehouse/metastore droppings out of the repo. Static
        # confs, so only the call that starts the JVM makes the dirs;
        # they go when the process exits.
        wh, derby = (tempfile.mkdtemp(prefix=p) for p in ("taps_wh_", "taps_derby_"))
        for d in (wh, derby):
            atexit.register(shutil.rmtree, d, ignore_errors=True)
        builder = builder.config("spark.sql.warehouse.dir", wh).config(
            "spark.driver.extraJavaOptions", f"-Dderby.system.home={derby}"
        )
    for k, v in {**STATIC_CONFS, **RUNTIME_CONFS}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
