"""Structured Streaming jobs.

The reference's "stream" is a resumable batch cursor
(lib/taps/data_stream.rb:10) — real event-time streaming is part of
the engine's beyond-reference surface (SURVEY.md §2b/§2c). Jobs here
read the events fixture as a file-source stream and run windowed
aggregations whose semantics are IDENTICAL to the batch operators in
operators/events.py, so the DuckDB batch oracle gates the streaming
path too.

Scale notes: at 100 TB the file source becomes Kafka/queue input; the
plans are unchanged. Watermarks bound state (late data beyond the
delay is dropped); memory-sink + AvailableNow here is the local test
harness, not the production sink (that's foreachBatch → idempotent
append, io/sinks.py).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
    with _state_partitions(spark, state_partitions):
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    result = spark.table(name)
    spark.catalog.dropTempView(name)
    return result


def stream_tumbling_agg(
    spark: SparkSession, sf_dir: str, minutes: int = 10, watermark: str = "30 minutes"
) -> DataFrame:
    """Streaming 10-minute tumbling windows per event type — same
    bucketing as the batch operator (operators/events.py), so the
    batch DuckDB oracle validates this plan's output.

    The watermark declares the lateness bound that limits state at
    scale; with complete-output + AvailableNow on a finite fixture it
    doesn't drop anything, which is exactly what makes the oracle
    comparison well-defined.
    """
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", watermark)
    agg = (
        ev.groupBy(F.window("ts", f"{minutes} minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory(agg, "complete")


def stream_stream_interval_join(
    spark: SparkSession, sf_dir: str, minutes: int = 60
) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    each 'view' joined to the same user's 'click's within the next
    `minutes`. The hardest streaming operator — both sides buffer
    state; the watermark + the time-range bound let Spark evict it
    (without the range condition state grows forever).

    Scale: state per side ≈ (events within watermark horizon); the
    join key (user_id) hash-partitions both streams identically, so
    matching is local after one shuffle per side. Append output mode
    is mandatory for stream-stream joins.
    """
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("view_event_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("v_ts"),
        )
    )
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("click_event_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    joined = views.join(
        clicks,
        F.expr(
            f"v_user_id = c_user_id AND c_ts >= v_ts "
            f"AND c_ts <= v_ts + INTERVAL {minutes} MINUTES"
        ),
    ).select(
        "view_event_id",
        "click_event_id",
        F.col("v_user_id").alias("user_id"),
        ((F.unix_micros("c_ts") - F.unix_micros("v_ts")) / F.lit(1_000_000))
        .cast("long")
        .alias("delay_s"),
    )
    return run_to_memory(joined, "append")


def stream_foreach_batch_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production sink shape: streaming tumbling aggregation delivered
    through foreachBatch → idempotent keyed append (io/sinks) — the
    exactly-once-per-key pattern that replaces the reference's
    duplicate-PK verify/repair protocol (SURVEY §2a-18) in streaming
    form.

    The job runs TWICE into the same target; the second pass appends
    zero rows (anti-join on the window/event_type key), which is the
    whole point — retries and replays are free. Returns the sink
    contents read back.
    """
    from taps_spark.io.sinks import append_idempotent

    target = scratch("taps_fes_") + "/agg"

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        append_idempotent(spark, batch_df, target, ["window_start", "event_type"])

    for _ in range(2):  # second run proves idempotency
        ev = read_events_stream(spark, sf_dir).withWatermark("ts", "30 minutes")
        agg = (
            ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
            .select(
                F.col("w.start").cast("timestamp_ntz").alias("window_start"),
                "event_type",
                "n_events",
                "sum_value",
            )
        )
        with _state_partitions(spark):
            q = (
                agg.writeStream.outputMode("complete")
                .foreachBatch(write_epoch)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    return read_parquet(spark, target)


def stream_session_window_agg(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """Streaming session windows (native F.session_window state
    merging): per-user sessions closed after `gap_minutes` of
    inactivity.

    Session semantics: a session spans [first_ts, last_ts + gap); an
    event at exactly last_ts + gap starts a NEW session (half-open
    interval) — the batch oracle uses `diff >= gap` accordingly.
    """
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.session_window("ts", f"{gap_minutes} minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory(agg, "complete")


def stream_sliding_agg(
    spark: SparkSession, sf_dir: str, width_minutes: int = 15, slide_minutes: int = 5
) -> DataFrame:
    """Streaming sliding windows (width/slide expansion happens
    map-side inside the stateful agg): same bucketing as the batch
    operator, so the batch oracle gates this plan too."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "30 minutes")
    agg = (
        ev.groupBy(
            F.window("ts", f"{width_minutes} minutes", f"{slide_minutes} minutes").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory(agg, "complete")


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: the event stream unioned with a second
    copy of itself (every event arrives twice), deduped on event_id by
    dropDuplicatesWithinWatermark, then aggregated per type — the
    at-least-once-ingest repair every streaming pipeline needs in
    front of training-data capture.

    dropDuplicatesWithinWatermark (not dropDuplicates) is the scale
    choice: dedup state is EVICTED once the watermark passes an id's
    event time, so state is bounded by (duplicate horizon × arrival
    rate) instead of growing with the whole stream. Chained stateful
    operators (dedup → windowless agg) require the watermark to be
    declared upstream of both.
    """
    from taps_spark.queries.numeric import DECIMAL_T

    doubled = (
        read_events_stream(spark, sf_dir)
        .unionByName(read_events_stream(spark, sf_dir))
        .withWatermark("ts", "2 hours")
    )
    deduped = doubled.dropDuplicatesWithinWatermark(["event_id"])
    agg = deduped.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast(DECIMAL_T)), 2).cast("double").alias("sum_value"),
    )
    return run_to_memory(agg, "complete")


def stream_continuous_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming continuous-aggregate maintenance (the streaming twin
    of operators/events.hypertable_rollup, timescaledb's continuous
    aggregate refresh): the stream maintains the HOURLY partial table
    incrementally — foreachBatch merge-upserts each micro-batch's
    (hour, event_type) partials by key — and the DAILY grain is
    derived from the materialized partials, never from raw rows.

    The maintenance pass runs TWICE (simulating a replayed/restarted
    job): the second pass upserts identical partials onto the same
    keys, so the rollup is exactly-once per key without any sink
    transaction log. The returned daily frame must equal the batch
    `events_hypertable_rollup` bit-for-bit (pinned in
    tests/test_streaming_semantics.py).

    Scale: micro-batch state is the finest grain only (~rows/3600);
    the daily finalization reads the compact hourly table. In
    production the merge maps onto Delta/Iceberg MERGE INTO with
    partition pruning on hour_start (io/sinks.merge_upsert docs).
    """
    from taps_spark.io.sinks import merge_upsert
    from taps_spark.queries.numeric import DECIMAL_T

    target = scratch("taps_cagg_") + "/hourly"

    def upsert_partials(batch_df: DataFrame, epoch_id: int) -> None:
        # Re-aggregate the batch to partial grain (a batch may carry
        # many micro-batch groups), then replace-by-key.
        partials = batch_df.groupBy("hour_start", "event_type").agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_v").alias("sum_v"),
        )
        merge_upsert(spark, partials, target, ["hour_start", "event_type"])

    for _ in range(2):  # second pass proves replay is upsert-idempotent
        ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
        hourly = ev.groupBy(
            F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("hour_start"),
            "event_type",
        ).agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(DECIMAL_T)).alias("sum_v"),
        )
        with _state_partitions(spark):
            q = (
                hourly.writeStream.outputMode("complete")
                .foreachBatch(upsert_partials)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    import os

    if not os.path.exists(target):
        raise RuntimeError(
            "stream_continuous_rollup: no micro-batch ever fired — the "
            "file source listed zero files (empty or mis-shaped source "
            f"dir for {sf_dir!r}); refusing to return an empty rollup"
        )
    materialized = read_parquet(spark, target)
    return materialized.groupBy(
        F.date_format(F.date_trunc("day", "hour_start"), "yyyy-MM-dd").alias("day"),
        F.col("event_type"),
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.round(F.sum("sum_v"), 2).cast("double").alias("sum_value"),
        F.max("n_events").alias("peak_hour_events"),
        F.count("*").cast("int").alias("n_active_hours"),
    )


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static join: the event stream enriched against a STATIC
    dimension (customer) by broadcast per micro-batch, then aggregated
    per market segment.

    Unlike a stream-stream join this needs NO join state and no
    watermark for the join itself — the static side is re-resolved
    each micro-batch (so a dimension update is picked up on the next
    batch) and broadcast to every task. At 100 TB of stream, the
    dimension stays executor-resident; only the stream shuffles, and
    only for the final aggregate.
    """
    from taps_spark.io.tables import load_tables

    ev = read_events_stream(spark, sf_dir)
    cust = load_tables(spark, sf_dir, ("customer",))["customer"].select(
        "c_custkey", "c_mktsegment"
    )
    joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(27,6)")), 2)
        .cast("double")
        .alias("sum_value"),
    )
    return run_to_memory(agg, "complete").orderBy("c_mktsegment")


def stream_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations evaluated ON THE STREAM: the metric
    state (avg fractions, max) is a single global stateful streaming
    aggregation — Spark merges partial state across micro-batches
    exactly like the batch planner merges map-side partials, which is
    why the streaming verdict equals the batch verdict (the oracle).
    The verdict explode happens on the one materialized state row.

    This is Deequ-on-streams: at 100 TB the same plan watches a Kafka
    topic in update mode and each trigger emits the current corpus-
    wide verdict; a foreachBatch hook can then gate downstream sinks
    on `passed`."""
    from taps_spark.operators.expectations import GE, LE, verdict

    ev = read_events_stream(spark, sf_dir)
    domain = ("click", "error", "purchase", "signup", "view")
    # RAW metrics in the stream state; verdict() rounds for display and
    # compares unrounded (rounding first would mask tiny violations).
    agg = ev.agg(
        F.avg(F.when(F.col("user_id").isNotNull(), 1.0).otherwise(0.0)).alias(
            "completeness_user_id"
        ),
        F.avg(F.when(F.col("event_type").isin(*domain), 1.0).otherwise(0.0)).alias(
            "domain_event_type"
        ),
        F.avg(F.when(F.col("value") >= 0, 1.0).otherwise(0.0)).alias("nonneg_value"),
        F.max("value").cast("double").alias("max_value"),
    )
    state = run_to_memory(agg, "complete")
    return verdict(
        state,
        [
            ("completeness_user_id", 1.0, GE),
            ("domain_event_type", 1.0, GE),
            ("nonneg_value", 1.0, GE),
            ("max_value", 1000.0, LE),
        ],
    )


def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a DYNAMIC gap: each event extends its
    session by a per-row duration (errors time out after 10 minutes,
    everything else after 30) — F.session_window's expression-gap
    form, which fixed-gap sessionization can't express.

    Merge semantics are interval union over [ts, ts + gap(row)): the
    session end is the running MAX of event ends, and an event at or
    past that end opens a new session (half-open, matching the
    fixed-gap convention).  The batch oracle reproduces exactly that
    with a running-max island detection.
    """
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    gap = F.when(F.col("event_type") == "error", F.lit("10 minutes")).otherwise(
        F.lit("30 minutes")
    )
    agg = (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory(agg, "complete")


def stream_hourly_topk(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Streaming leaderboard: hourly tumbling counts per event type
    maintained by the stream, top-k per hour ranked at read time.

    The RANKING deliberately lives outside the streaming graph:
    Structured Streaming cannot update a rank row retroactively under
    append semantics, so the stream maintains the additive state
    (per-window counts — merge-safe, watermark-bounded) and the
    finalization ranks the materialized result. That split is the
    production shape too: the sink table holds counts; the dashboard
    query ranks. Rank ties break on event_type, so the result is
    deterministic and oracle-gated, not rows-only.
    """
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "60 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("hour_start"),
            "event_type",
            "n_events",
        )
    )
    counts = run_to_memory(agg, "complete")
    from pyspark.sql import Window

    w = Window.partitionBy("hour_start").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("hour_start", "rank")
    )


def stream_baseline_anomaly_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hourly anomaly alerts against a STATIC cyclical
    baseline: the batch side trains expected traffic per (event_type,
    hour-of-day) over the whole corpus (tot events / n_days); the
    stream buckets live events into 1-hour tumbling windows and emits
    a row whenever a window runs >30% above its slot's expectation —
    the alerting topology every on-call pipeline runs (train offline,
    score online).

    The static baseline joins the stream BEFORE aggregation (per-row
    broadcast hash join on (event_type, hod)) — the shape Structured
    Streaming supports without restriction; the baseline columns are
    functionally determined by the group key, so MAX() carries them
    through the windowed aggregate unchanged.

    Exactness: the alert predicate and both reported expectations are
    pure integer arithmetic (10·n·n_days > 13·tot; integer div folds),
    so the batch DuckDB oracle matches bit-for-bit.

    Scale: baseline is |types|×24 rows (broadcast); stream state is
    one window per (hour, type) within the watermark horizon. The
    alert filter runs post-aggregation on window-grain rows.
    """
    from taps_spark.io.tables import load_tables

    ev_batch = load_tables(spark, sf_dir, ("events",))["events"]
    hod = (F.expr("unix_micros(cast(ts as timestamp)) div 3600000000") % 24).cast(
        "int"
    )
    day = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    n_days = ev_batch.select(day.alias("d")).distinct().count()
    baseline = (
        ev_batch.select("event_type", hod.alias("hod"))
        .groupBy("event_type", "hod")
        .agg(F.count(F.lit(1)).alias("tot"))
        .withColumn("n_days", F.lit(int(n_days)).cast("long"))
    )
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    enriched = ev.select(
        "ts",
        "event_type",
        (F.expr("unix_micros(cast(ts as timestamp)) div 3600000000") % 24)
        .cast("int")
        .alias("hod"),
    ).join(F.broadcast(baseline), ["event_type", "hod"])
    agg = (
        enriched.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("tot").alias("tot"),
            F.max("n_days").alias("nd"),
        )
        .filter(
            F.lit(10) * F.col("n_events") * F.col("nd") > F.lit(13) * F.col("tot")
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            F.expr("(tot * 1000) div nd").alias("expected_milli"),
            F.expr("(n_events * nd * 1000000) div tot").alias("ratio_ppm"),
        )
    )
    return run_to_memory(agg, "complete")
