"""Streaming query inventory: each query is its own plan over the
events stream (streaming/jobs.read_events_stream), runs its batch
twin's operator where it has one (operators/events.py), and starts
through the one stream starter (run_to_memory / run_foreach_batch), so
the same batch oracles gate the streaming results."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from taps_spark.io.sources import read_parquet
from taps_spark.io.tables import load_table, load_tables, scratch
from taps_spark.operators.events import (
    daily_rollup,
    hourly_partials,
    sliding_window_agg,
    tumbling_window_agg,
)
from taps_spark.queries import query
from taps_spark.queries.events import SLIDING_ORACLE as _SLIDING_ORACLE
from taps_spark.queries.events import HYPERTABLE_ORACLE as _HYPERTABLE_ORACLE
from taps_spark.queries.events import TUMBLING_ORACLE
from taps_spark.queries.numeric import DECIMAL_T
from taps_spark.streaming import stateful
from taps_spark.streaming.jobs import (
    STREAM_PYTHON_STATE_PARTITIONS,
    read_events_stream,
    run_foreach_batch,
    run_to_memory,
)

SESSION_WINDOW_ORACLE = """
WITH lagged AS (
  SELECT user_id, event_id, ts, value,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM lagged
),
sess AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(ts)              AS session_start,
       COUNT(*)             AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM sess
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


@query("events_stream_tumbling", oracle=TUMBLING_ORACLE)
def events_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window aggregation (file-source
    micro-batch, watermark, AvailableNow trigger, memory sink) running
    the batch operator — checked against the SAME DuckDB oracle as the
    batch form (events_tumbling_window), proving batch/stream parity.

    The watermark declares the lateness bound that limits state at
    scale; with complete output + AvailableNow on a finite fixture it
    drops nothing, which is what makes the oracle comparison
    well-defined.
    """
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "30 minutes")
    return run_to_memory(tumbling_window_agg(ev, minutes=10), "complete")


def _sessions(spark: SparkSession, sf_dir: str, gap: str | Column) -> DataFrame:
    """Streaming session windows (native F.session_window state
    merging) per user, closed after `gap` of inactivity — a fixed
    duration or a per-row expression.

    Session semantics: a session spans [first_ts, last event end),
    where an event ends at ts + its gap; an event at or past that end
    opens a NEW session (half-open interval) — the batch oracles use
    `diff >= gap` and a running-max island detection accordingly."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory(agg, "complete")


@query("events_stream_session_window", oracle=SESSION_WINDOW_ORACLE)
def events_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window streaming aggregation (30-min gap, state
    merging). Oracle is the gaps-and-islands SQL with the half-open
    `diff >= gap` boundary session_window defines."""
    return _sessions(spark, sf_dir, "30 minutes")


USER_STATS_ORACLE = """
SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@query("events_stream_stateful_user_stats", oracle=USER_STATS_ORACLE)
def events_stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running stats in the state store; the single-batch final
    emission equals the batch aggregation, which is the oracle. See
    taps_spark/streaming/stateful.py for the 100 TB state layout."""
    ev = read_events_stream(spark, sf_dir).select("user_id", "value")
    stats = ev.groupBy("user_id").applyInPandasWithState(
        stateful.update_user_stats,
        outputStructType=stateful.OUTPUT_SCHEMA,
        stateStructType=stateful.STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(
        stats, "update", state_partitions=STREAM_PYTHON_STATE_PARTITIONS
    ).orderBy("user_id")


STATE_TTL_TWIN_ORACLE = """
WITH e AS (
  SELECT user_id,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INT) AS day,
         CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS q
  FROM events
),
days AS (
  SELECT user_id, day, CAST(COUNT(*) AS BIGINT) AS n, SUM(q) AS v
  FROM e GROUP BY user_id, day
),
g AS (
  SELECT *,
         CASE WHEN day - LAG(day) OVER (PARTITION BY user_id ORDER BY day) > 2
              THEN 1 ELSE 0 END AS brk
  FROM days
),
gen AS (
  SELECT *,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY day
                        ROWS UNBOUNDED PRECEDING) AS generation
  FROM g
)
SELECT user_id,
       CAST(generation AS INT) AS generation,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(SUM(v) AS BIGINT) AS sum_value_micros,
       generation < MAX(generation) OVER (PARTITION BY user_id) AS expired
FROM gen
GROUP BY user_id, generation
ORDER BY user_id, generation
"""


@query("events_stream_state_ttl_twin", oracle=STATE_TTL_TWIN_ORACLE)
def events_stream_state_ttl_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executable semantics twin of v2 arbitrary state's TTL/timer
    surface on the v1 applyInPandasWithState path
    (`transformWithStateInPandas` itself needs protobuf, so the
    TTL/timer SEMANTICS get running, oracle-gated evidence here).

    The events fixture is split into 5 round-robin files and streamed
    ONE FILE PER MICRO-BATCH (real cross-batch state carry: every
    user's buckets accumulate across ~5 batches), through a per-user
    processor (streaming/stateful.ttl_twin_update) whose state
    generations expire on a >TTL_DAYS event-time gap — v2's ValueState
    TTL with the fixture's event time as the clock, the deterministic
    choice (a wall-clock TTL could never be oracle-checked). `expired`
    marks generations closed by the TTL — the rows a v2 timer callback
    would have emitted at expiry. Gated by a gaps-and-islands batch
    oracle — exact integer micros folds end to end.

    Scale: state is per-user day-aggregates (bounded by the TTL
    horizon in production, where expired generations are emitted and
    dropped), hash-partitioned by user in the state store; one
    shuffle per micro-batch; Arrow-batched per group.
    """
    n_files = 5
    # A fresh split per call: the input is re-read every time.
    src = scratch("taps_ttl_twin_")
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("day"),
        F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long").alias("q"),
        (F.col("event_id") % n_files).alias("_b"),
    )
    ev.repartition(n_files, "_b").drop("_b").write.mode("overwrite").parquet(src)
    raw = (
        spark.readStream.schema("user_id bigint, day int, q bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    updates = raw.groupBy("user_id").applyInPandasWithState(
        stateful.ttl_twin_update,
        outputStructType=stateful.TTL_TWIN_OUTPUT_SCHEMA,
        stateStructType=stateful.TTL_TWIN_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    tbl = run_to_memory(updates, "update", state_partitions=STREAM_PYTHON_STATE_PARTITIONS)
    w = Window.partitionBy("user_id")
    return (
        tbl.withColumn("_m", F.max("seq").over(w))
        .filter(F.col("seq") == F.col("_m"))
        .select(
            "user_id", "generation", "n_events", "sum_value_micros", "expired"
        )
        .orderBy("user_id", "generation")
    )


STREAM_JOIN_ORACLE = """
SELECT v.event_id AS view_event_id,
       c.event_id AS click_event_id,
       v.user_id,
       CAST((epoch_us(c.ts) - epoch_us(v.ts)) // 1000000 AS BIGINT) AS delay_s
FROM events v
JOIN events c
  ON v.user_id = c.user_id
 AND v.event_type = 'view' AND c.event_type = 'click'
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 60 MINUTE
ORDER BY view_event_id, click_event_id
"""


# Spark 4 v2 arbitrary-state twin (transformWithStateInPandas) of the
# stateful query above. pyspark serializes v2 state metadata over
# protobuf, so the query registers ONLY where google.protobuf imports —
# this container lacks it (installs are off-limits), so here the entry
# lands in skipped_queries() with the reason, and self-activates
# unchanged the moment the environment gains protobuf.
try:
    import google.protobuf  # noqa: F401

    _HAS_PROTOBUF = True
except ImportError:
    _HAS_PROTOBUF = False

if _HAS_PROTOBUF:

    @query("events_stream_stateful_user_stats_v2", oracle=USER_STATS_ORACLE)
    def events_stream_stateful_user_stats_v2(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """transformWithStateInPandas (Spark 4 arbitrary-state v2 API):
        same per-user running stats as the applyInPandasWithState twin,
        held as typed ValueState in the RocksDB-backed store — gated by
        the same batch-aggregation oracle. See
        streaming/stateful.user_stats_processor for the state layout."""
        ev = read_events_stream(spark, sf_dir).select("user_id", "value")
        stats = ev.groupBy("user_id").transformWithStateInPandas(
            stateful.user_stats_processor(),
            outputStructType=stateful.OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
        # A per-group Python-state stream: sized like the
        # applyInPandasWithState operators (see streaming/jobs.py).
        return run_to_memory(
            stats, "update", state_partitions=STREAM_PYTHON_STATE_PARTITIONS
        ).orderBy("user_id")

else:
    from taps_spark.queries import register_skip

    register_skip(
        "events_stream_stateful_user_stats_v2",
        "transformWithStateInPandas needs google.protobuf (pyspark v2-state "
        "serialization), which does not import here; its processor "
        "(taps_spark/streaming/stateful.py::user_stats_processor) is tested via "
        "tests/test_streaming_semantics.py (importorskip) and registers "
        "automatically where protobuf is importable",
    )


def _view_click_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Stream-stream interval join: each 'view' joined to the same
    user's 'click's within the next 60 minutes. The hardest streaming
    operator — both sides buffer state; the 2-hour watermarks + the
    time-range bound let Spark evict it (without the range condition
    state grows forever).

    Scale: state per side ≈ (events within watermark horizon); the
    join key (user_id) hash-partitions both streams identically, so
    matching is local after one shuffle per side. Append output mode
    is mandatory for stream-stream joins."""

    def side(event_type: str, id_name: str, p: str) -> DataFrame:
        return (
            read_events_stream(spark, sf_dir)
            .filter(F.col("event_type") == event_type)
            .withWatermark("ts", "2 hours")
            .select(
                F.col("event_id").alias(id_name),
                F.col("user_id").alias(f"{p}_user_id"),
                F.col("ts").alias(f"{p}_ts"),
            )
        )

    joined = side("view", "view_event_id", "v").join(
        side("click", "click_event_id", "c"),
        F.expr(
            "v_user_id = c_user_id AND c_ts >= v_ts "
            "AND c_ts <= v_ts + INTERVAL 60 MINUTES"
        ),
        how,
    ).select(
        "view_event_id",
        "click_event_id",
        F.col("v_user_id").alias("user_id"),
        ((F.unix_micros("c_ts") - F.unix_micros("v_ts")) / F.lit(1_000_000))
        .cast("long")
        .alias("delay_s"),
    )
    return run_to_memory(joined, "append").orderBy("view_event_id", "click_event_id")


@query("events_stream_stream_join", oracle=STREAM_JOIN_ORACLE)
def events_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (view→click attribution within 60
    minutes per user) with watermark-bounded state — checked against
    the equivalent batch interval-join SQL. See _view_click_join for
    the state-eviction story."""
    return _view_click_join(spark, sf_dir, "inner")


@query("events_stream_foreach_batch", oracle=TUMBLING_ORACLE)
def events_stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch → idempotent keyed parquet append, run twice to
    prove replay safety (second pass appends 0 rows); the sink read
    back must equal the batch tumbling oracle. The production sink
    shape: the exactly-once-per-key pattern that replaces the
    reference's duplicate-PK verify/repair protocol (SURVEY §2a-18) in
    streaming form — retries and replays are free."""
    from taps_spark.io.sinks import append_idempotent

    target = scratch("taps_fes_") + "/agg"

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        append_idempotent(spark, batch_df, target, ["window_start", "event_type"])

    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "30 minutes")
    run_foreach_batch(tumbling_window_agg(ev, minutes=10), write_epoch)
    return read_parquet(spark, target).orderBy("window_start", "event_type")


@query("events_stream_sliding", oracle=_SLIDING_ORACLE)
def events_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding-window aggregation (15-min windows every
    5 min) — the batch twin's operator (width/slide expansion happens
    map-side inside the stateful agg), gated by the same oracle."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "30 minutes")
    return run_to_memory(
        sliding_window_agg(ev, width_minutes=15, slide_minutes=5), "complete"
    )


DEDUP_STREAM_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(27,6))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query("events_stream_dedup", oracle=DEDUP_STREAM_ORACLE)
def events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup with bounded state: the stream unioned
    with itself (simulated at-least-once duplication) collapses back
    to exactly the batch per-type totals via
    dropDuplicatesWithinWatermark — state evicted at the watermark
    horizon, unlike dropDuplicates whose state grows forever. Oracle
    is the plain batch aggregate over the ORIGINAL (unduplicated)
    table: dedup must be exactly lossless. Chained stateful operators
    (dedup → windowless agg) require the watermark upstream of both."""
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
    return run_to_memory(agg, "complete").orderBy("event_type")


@query("events_stream_continuous_rollup", oracle=_HYPERTABLE_ORACLE)
def events_stream_continuous_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming continuous-aggregate maintenance (timescaledb's
    continuous aggregate refresh): the stream maintains the batch
    twin's hourly_partials, foreachBatch merge-upserting each
    micro-batch's (hour, event_type) partials by key (run twice —
    replay must be a no-op), and daily_rollup finalizes from the
    materialized partials, never from raw rows. Gated by the SAME
    oracle as the batch `events_hypertable_rollup`: incremental
    maintenance must be indistinguishable from recomputation.

    Scale: micro-batch state is the finest grain only (~rows/3600).
    In production the merge maps onto Delta/Iceberg MERGE INTO with
    partition pruning on hour_start (io/sinks.merge_upsert docs)."""
    import os

    from taps_spark.io.sinks import merge_upsert

    target = scratch("taps_cagg_") + "/hourly"

    def upsert_partials(batch_df: DataFrame, epoch_id: int) -> None:
        # Re-aggregate the batch to partial grain (a batch may carry
        # many micro-batch groups), then replace-by-key.
        partials = batch_df.groupBy("hour_start", "event_type").agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_v").alias("sum_v"),
        )
        merge_upsert(spark, partials, target, ["hour_start", "event_type"])

    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    run_foreach_batch(hourly_partials(ev), upsert_partials)
    if not os.path.exists(target):
        raise RuntimeError(
            "events_stream_continuous_rollup: no micro-batch ever fired — "
            "the file source listed zero files (empty or mis-shaped source "
            f"dir for {sf_dir!r}); refusing to return an empty rollup"
        )
    return daily_rollup(read_parquet(spark, target)).orderBy("day", "event_type")


STATIC_ENRICH_ORACLE = """
SELECT c_mktsegment,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(27,6))), 2) AS DOUBLE) AS sum_value
FROM events
JOIN customer ON c_custkey = user_id
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@query("events_stream_static_enrich", oracle=STATIC_ENRICH_ORACLE)
def events_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static broadcast join (per-micro-batch dimension
    enrichment, no join state) + downstream aggregate — the remaining
    streaming join shape next to stream-stream. Oracle is the batch
    join-aggregate over the same tables.

    Unlike a stream-stream join this needs NO join state and no
    watermark: the static side (customer) is re-resolved each
    micro-batch (a dimension update is picked up on the next batch)
    and broadcast to every task. At 100 TB of stream the dimension
    stays executor-resident; only the stream shuffles, and only for
    the final aggregate."""
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


STREAM_OUTER_JOIN_ORACLE = """
WITH v AS (
  SELECT event_id AS view_event_id, user_id, ts AS v_ts
  FROM events WHERE event_type = 'view'
),
c AS (
  SELECT event_id AS click_event_id, user_id, ts AS c_ts
  FROM events WHERE event_type = 'click'
),
m AS (
  -- Spark's global watermark is the MIN across the two inputs'
  -- (max event time - delay): both sides gate outer emission.
  SELECT LEAST((SELECT MAX(v_ts) FROM v), (SELECT MAX(c_ts) FROM c)) AS mx
),
matched AS (
  SELECT v.view_event_id, c.click_event_id, v.user_id,
         CAST((epoch_us(c.c_ts) - epoch_us(v.v_ts)) // 1000000 AS BIGINT) AS delay_s
  FROM v JOIN c
    ON v.user_id = c.user_id
   AND c.c_ts >= v.v_ts AND c.c_ts <= v.v_ts + INTERVAL 60 MINUTE
),
expired_unmatched AS (
  SELECT v.view_event_id, CAST(NULL AS BIGINT) AS click_event_id, v.user_id,
         CAST(NULL AS BIGINT) AS delay_s
  FROM v CROSS JOIN m
  WHERE NOT EXISTS (
          SELECT 1 FROM c
          WHERE c.user_id = v.user_id
            AND c.c_ts >= v.v_ts AND c.c_ts <= v.v_ts + INTERVAL 60 MINUTE)
    AND v.v_ts + INTERVAL 60 MINUTE < m.mx - INTERVAL 2 HOUR
)
SELECT * FROM matched
UNION ALL
SELECT * FROM expired_unmatched
ORDER BY view_event_id, click_event_id
"""


@query("events_stream_outer_join", oracle=STREAM_OUTER_JOIN_ORACLE)
def events_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the delicate half of
    the streaming join family: matched (view, click) pairs emit
    immediately, while a view with no click emits its NULL row only
    when the watermark proves no future click can match (its 60-min
    join window has fallen behind the final GLOBAL watermark — which
    is the MIN over both inputs of max-event-time − the 2-hour
    delay, a multi-input subtlety sf0.001 exposed: the click stream's
    slower max held a view back). The oracle encodes that emission
    rule exactly: unmatched views emit iff
    v_ts + 60 min < least(max(v_ts), max(c_ts)) − 2 h — so this
    query pins Spark's outer state-eviction semantics against
    independent SQL, not just row plumbing.

    Scale: state per side is bounded by the watermark horizon exactly
    as the inner form (events_stream_stream_join); the outer rows add
    no state — they're emitted from evicted left state.
    """
    return _view_click_join(spark, sf_dir, "left_outer")


STREAM_EXPECTATIONS_ORACLE = """
WITH m AS (
  -- RAW metrics; ROUND is display-only (see operators/expectations.py)
  SELECT
    CAST(AVG(CASE WHEN user_id IS NOT NULL THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS completeness_user_id,
    CAST(AVG(CASE WHEN event_type IN ('click','error','purchase','signup','view')
                  THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS domain_event_type,
    CAST(MAX(value) AS DOUBLE) AS max_value,
    CAST(AVG(CASE WHEN value >= 0 THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS nonneg_value
  FROM events
)
SELECT 'completeness_user_id' AS check_name, ROUND(completeness_user_id, 6) AS metric,
       1.0 AS threshold, '>=' AS op, completeness_user_id >= 1.0 AS passed FROM m
UNION ALL
SELECT 'domain_event_type', ROUND(domain_event_type, 6), 1.0, '>=',
       domain_event_type >= 1.0 FROM m
UNION ALL
SELECT 'max_value', ROUND(max_value, 6), 1000.0, '<=', max_value <= 1000.0 FROM m
UNION ALL
SELECT 'nonneg_value', ROUND(nonneg_value, 6), 1.0, '>=', nonneg_value >= 1.0 FROM m
ORDER BY check_name
"""


@query("events_stream_expectations", oracle=STREAM_EXPECTATIONS_ORACLE)
def events_stream_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-on-streams: the constraint metrics accumulate as ONE
    stateful streaming aggregation (mergeable across micro-batches by
    construction), and the batch oracle gates the streaming verdict —
    stream state merge must equal a from-scratch batch pass. The
    verdict explode happens on the one materialized state row.

    At 100 TB the same plan watches a Kafka topic in update mode and
    each trigger emits the current corpus-wide verdict; a foreachBatch
    hook can then gate downstream sinks on `passed`."""
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
    return verdict(
        run_to_memory(agg, "complete"),
        [
            ("completeness_user_id", 1.0, GE),
            ("domain_event_type", 1.0, GE),
            ("nonneg_value", 1.0, GE),
            ("max_value", 1000.0, LE),
        ],
    )


SESSION_DYNAMIC_GAP_ORACLE = """
WITH ends AS (
  SELECT user_id, event_id, ts, value,
         epoch_us(ts) + CASE WHEN event_type = 'error'
                             THEN 600000000 ELSE 1800000000 END AS ev_end,
         MAX(epoch_us(ts) + CASE WHEN event_type = 'error'
                                 THEN 600000000 ELSE 1800000000 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS sess_end
  FROM events
),
flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN sess_end IS NULL OR epoch_us(ts) >= sess_end
              THEN 1 ELSE 0 END AS new_s
  FROM ends
),
sess AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(ts)              AS session_start,
       COUNT(*)             AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM sess
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


@query("events_stream_session_dynamic_gap", oracle=SESSION_DYNAMIC_GAP_ORACLE)
def events_stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap streaming sessionization (per-row timeout via the
    expression form of F.session_window); the oracle reproduces the
    interval-union merge with a running-max island detection — state
    merge across micro-batches must equal the batch interval union.
    Errors time out after 10 minutes, everything else after 30: a
    per-row gap fixed-gap sessionization can't express."""
    gap = F.when(F.col("event_type") == "error", F.lit("10 minutes")).otherwise(
        F.lit("30 minutes")
    )
    return _sessions(spark, sf_dir, gap).orderBy("user_id", "session_start")


HOURLY_TOPK_ORACLE = """
WITH counts AS (
  SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS hour_start,
         event_type,
         COUNT(*) AS n_events
  FROM events
  GROUP BY 1, 2
)
SELECT hour_start, event_type, n_events, CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY hour_start
                               ORDER BY n_events DESC, event_type) AS rank
  FROM counts
)
WHERE rank <= 3
ORDER BY hour_start, rank
"""


@query("events_stream_hourly_topk", oracle=HOURLY_TOPK_ORACLE)
def events_stream_hourly_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k leaderboard: the stream maintains hourly
    per-type counts (watermarked tumbling windows — additive,
    merge-safe state); ranking happens on the materialized sink,
    because a rank is not incrementally maintainable under append
    semantics. Integer counts + lexicographic tiebreak make the
    result exactly oracle-checkable against the batch SQL. That split
    is the production shape too: the sink table holds counts; the
    dashboard query ranks."""
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
    w = Window.partitionBy("hour_start").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .orderBy("hour_start", "rank")
    )


BASELINE_ALERT_ORACLE = """
WITH nd AS (
  SELECT CAST(COUNT(DISTINCT epoch_us(ts) // 86400000000) AS BIGINT) AS n_days
  FROM events
),
baseline AS (
  SELECT event_type,
         CAST((epoch_us(ts) // 3600000000) % 24 AS INT) AS hod,
         CAST(COUNT(*) AS BIGINT) AS tot
  FROM events GROUP BY 1, 2
),
hourly AS (
  SELECT event_type,
         make_timestamp((epoch_us(ts) // 3600000000) * 3600000000)
           AS window_start,
         CAST((epoch_us(ts) // 3600000000) % 24 AS INT) AS hod,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2, 3
)
SELECT h.window_start, h.event_type, h.n_events,
       (b.tot * 1000) // nd.n_days AS expected_milli,
       (h.n_events * nd.n_days * 1000000) // b.tot AS ratio_ppm
FROM hourly h
JOIN baseline b ON b.event_type = h.event_type AND b.hod = h.hod
CROSS JOIN nd
WHERE 10 * h.n_events * nd.n_days > 13 * b.tot
ORDER BY h.window_start, h.event_type
"""


@query("events_stream_baseline_alert", oracle=BASELINE_ALERT_ORACLE)
def events_stream_baseline_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hourly anomaly alerts against a batch-trained
    (event_type, hour-of-day) baseline — the train-offline /
    score-online alerting topology: static baseline broadcast-joined
    into the stream BEFORE the windowed aggregation (the
    restriction-free stream-static shape), alert = window >30% above
    its slot's expectation, all-integer predicate so the batch DuckDB
    oracle gates the streaming path bit-for-bit.

    The baseline is expected traffic per (event_type, hour-of-day)
    over the whole corpus (tot events / n_days). Its columns are
    functionally determined by the group key, so MAX() carries them
    through the windowed aggregate unchanged. Exactness: the alert
    predicate (10·n·n_days > 13·tot) and both reported expectations
    are integer arithmetic.

    Scale: baseline is |types|×24 rows (broadcast); stream state is
    one window per (hour, type) within the watermark horizon. The
    alert filter runs post-aggregation on window-grain rows.
    """
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
    enriched = ev.select("ts", "event_type", hod.alias("hod")).join(
        F.broadcast(baseline), ["event_type", "hod"]
    )
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
    return run_to_memory(agg, "complete").orderBy("window_start", "event_type")
