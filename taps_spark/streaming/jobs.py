"""Structured Streaming harness: the events table as a file-source
stream, the state-partition sizing, and the one place that starts a
stream (AvailableNow trigger) and waits for it.

The reference's "stream" is a resumable batch cursor
(lib/taps/data_stream.rb:10) — real event-time streaming is part of
the engine's beyond-reference surface (SURVEY.md §2b/§2c). The
streaming queries themselves live in queries/streaming.py: each runs
its batch twin's operator (operators/events.py) on a watermarked
stream, so the DuckDB batch oracle gates the streaming path too.

Scale notes: at 100 TB the file source becomes Kafka/queue input; the
plans are unchanged. Watermarks bound state (late data beyond the
delay is dropped); memory-sink + AvailableNow here is the local test
harness, not the production sink (that's foreachBatch → idempotent
append or merge, io/sinks.py).
"""

from __future__ import annotations

import itertools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from taps_spark.io.sources import read_parquet
from taps_spark.io.tables import scratch, table_path
from taps_spark.session import tune

_SINK_IDS = itertools.count()


def _as_stream_dir(sf_dir: str) -> str:
    """Directory view over the events table: symlinks in a fresh
    scratch dir, built on every call, so a later call never reads an
    earlier call's view. The fixture ships events.parquet as a single
    FILE; Spark-written tables are a DIRECTORY of part files. The file
    stream source does not recurse into a symlinked subdirectory (it
    listed ZERO files and every downstream batch silently vanished —
    caught by the r9 scale fixture), so link each part file
    individually — which is also the honest landing-zone shape: files
    arrive one by one. Removing the dir removes only the links."""
    import os

    d = scratch("taps_stream_")
    src = table_path(sf_dir, "events")
    if os.path.isdir(src):
        for i, name in enumerate(sorted(os.listdir(src))):
            if name.endswith(".parquet"):
                os.symlink(os.path.join(src, name), os.path.join(d, f"part{i}.parquet"))
    else:
        os.symlink(src, os.path.join(d, "events.parquet"))
    return d


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events fixture as a file-source stream (one micro-batch under
    an AvailableNow trigger; a directory of arriving files or a Kafka
    topic in production)."""
    tune(spark)
    # The fixture is a single parquet FILE but the file stream source
    # requires a directory. Expose it through a scratch dir of
    # symlinks — zero copy, and exactly how a production landing zone
    # looks: a directory where files arrive.
    # Schema from the file's footer on every call, NOT hardcoded or
    # memoized: fixtures have shipped ts as both TIMESTAMP(NANOS)
    # (arrives as LongType under nanosAsLong) and TIMESTAMP(MICROS)
    # (arrives as NTZ), and a file rewritten in place may switch units.
    # Assuming one unit silently rescales event time by 1000× under
    # the other, so normalize by what the file actually contains —
    # the same adaptive rule as the batch loader (io/tables.py).
    schema = read_parquet(spark, table_path(sf_dir, "events")).schema
    raw = spark.readStream.schema(schema).parquet(_as_stream_dir(sf_dir))
    ts_type = raw.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        ts = F.timestamp_micros(F.expr("ts div 1000"))
    else:
        # Plain TIMESTAMP here (not NTZ like the batch loader):
        # watermarks only accept TIMESTAMP. Session TZ is pinned UTC,
        # so the cast is a pure relabel; outputs cast window bounds
        # back to NTZ for oracle parity.
        ts = F.col("ts").cast("timestamp")
    return raw.withColumn("ts", ts)


# State-store partition count for the local harness's streaming
# queries. A stateful operator opens/commits one state store PER
# shuffle partition PER micro-batch (a stream-stream join opens
# four), so inheriting the batch shuffle sizing (32 in the sweep)
# multiplies fixed store-commit overhead over streams whose entire
# state is a few thousand keys — measured at sf0.1: the four heaviest
# streaming queries drop from ~56 s to ~22 s combined at 8 vs 32
# partitions, identical results (state partitioning is invisible to
# the oracle-gated output). r12 re-tuned by interleaved A/B at
# sf0.1: 4 beats 8 for every JVM-stateful stream (stream-stream join
# 2.8 vs 3.9 s median, outer join 3.0 vs 3.9, continuous rollup 3.9
# vs 4.8, watermark dedup 1.9 vs 2.4; 2 is within noise of 4, so 4
# keeps headroom for state growth). In production the same decision
# is explicit and PERMANENT per checkpoint: spark.sql.shuffle.
# partitions at first start fixes the state layout for the query's
# lifetime, so size it to projected state volume (keys × bytes /
# executor memory), never inherit whatever the batch jobs use.
STREAM_STATE_PARTITIONS = 4

# applyInPandasWithState streams are the exception: their cost is the
# per-(key × micro-batch) Python group calls, and the partition count
# bounds how many Python workers run them concurrently — the store-
# commit overhead that argues for FEWER partitions above is amortized
# by real per-group work here. Measured (same A/B harness, sf0.1):
# the TTL twin runs 5.5 s at 16 partitions vs 7.0 s at 8 and 7.4 s
# at 4. In production: size to (group calls per batch × per-call
# cost) / target batch latency, capped by executor Python workers.
STREAM_PYTHON_STATE_PARTITIONS = 16


class _state_partitions:
    """Scope `spark.sql.shuffle.partitions` down to the streaming
    state sizing for the duration of a stream start→termination, then
    restore the session's batch value (streams capture the conf at
    .start(); sweeps run queries sequentially, so the temporary
    session-level set cannot leak into a concurrent batch plan)."""

    def __init__(self, spark: SparkSession, n: int | None = None):
        self.spark = spark
        self.n = n if n is not None else STREAM_STATE_PARTITIONS

    def __enter__(self) -> None:
        self.saved = self.spark.conf.get("spark.sql.shuffle.partitions")
        try:
            current = int(self.saved)
        except (TypeError, ValueError):
            current = 1 << 30  # AQE "auto" etc. — just apply the cap
        self.spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(min(current, self.n)),
        )

    def __exit__(self, *exc) -> None:
        self.spark.conf.set("spark.sql.shuffle.partitions", self.saved)


def _start_and_wait(
    spark: SparkSession, writer: DataStreamWriter, state_partitions: int | None = None
) -> None:
    """Start `writer` under the AvailableNow trigger with the state
    sizing in force (a stream captures the conf at .start()) and wait
    until it has processed all available data."""
    with _state_partitions(spark, state_partitions):
        writer.trigger(availableNow=True).start().awaitTermination()


def run_to_memory(
    stream_df: DataFrame,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Drive a streaming aggregation to completion on the available
    data and return the materialized result (local harness path).
    `state_partitions` overrides the JVM-stateful default — the
    applyInPandasWithState operators pass
    STREAM_PYTHON_STATE_PARTITIONS (see the constants above).

    The sink's temp view is dropped once the returned frame has
    resolved it: the frame keeps the rows, the session catalog does not."""
    spark = stream_df.sparkSession
    name = f"taps_stream_sink_{next(_SINK_IDS)}"
    _start_and_wait(
        spark,
        stream_df.writeStream.outputMode(output_mode).format("memory").queryName(name),
        state_partitions,
    )
    result = spark.table(name)
    spark.catalog.dropTempView(name)
    return result


def run_foreach_batch(
    stream_df: DataFrame, write_epoch: Callable[[DataFrame, int], None]
) -> None:
    """Deliver a complete-mode aggregation through foreachBatch, TWICE
    from scratch: the second run replays every micro-batch into the
    same sink, so `write_epoch` must be idempotent per key — which is
    what the production sink shape (io/sinks.py) promises."""
    for _ in range(2):
        _start_and_wait(
            stream_df.sparkSession,
            stream_df.writeStream.outputMode("complete").foreachBatch(write_epoch),
        )
