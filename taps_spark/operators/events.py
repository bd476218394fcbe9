"""Event-stream analytics. The streaming queries
(taps_spark/queries/streaming.py) run these same operators on a
watermarked stream, so one spelling serves batch and stream.

Sessionization is the gaps-and-islands formulation — lag + cumulative
flag sum over a per-user window: one shuffle on user_id, linear scan
per user, no self-joins. Tumbling/sliding windows use F.window
(event-time bucketing identical to Structured Streaming's, so the
batch oracle validates the streaming operator's semantics too).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Assign session ids: a session breaks when the gap since the
    user's previous event exceeds `gap_minutes`.

    Returns the input plus `session_id` (per-user 1-based counter).
    Deterministic: ordering includes the unique event id.
    """
    order = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    gap_us = gap_minutes * 60 * 1_000_000
    # Microsecond-exact gap arithmetic (unix_timestamp truncates to
    # seconds, which would disagree with the oracle's epoch_us on
    # sub-second boundaries). NTZ→TZ cast is an identity relabel under
    # the engine's pinned UTC session timezone.
    micros = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    prev_us = F.lag(micros(ts_col)).over(order)
    new_session = F.when(
        prev_us.isNull() | (micros(ts_col) - prev_us > gap_us), 1
    ).otherwise(0)
    return df.withColumn(
        "session_id",
        F.sum(new_session).over(order.rowsBetween(Window.unboundedPreceding, 0)),
    )


def session_stats(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    gap_minutes: int = 30,
) -> DataFrame:
    """Per-session rollup: bounds, size, value sum."""
    s = sessionize(df, user_col, ts_col, id_col, gap_minutes)
    return s.groupBy(user_col, "session_id").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count("*").alias("n_events"),
        F.round(F.sum(value_col), 2).alias("sum_value"),
    )


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    a_start: str,
    a_end: str,
    b_start: str,
    b_end: str,
    cell_minutes: int = 60,
    extra_pred=None,
):
    """Interval-overlap join (a.start ≤ b.end AND b.start ≤ a.end)
    as a bucketized EQUI-join — the scale-safe plan for a predicate
    Spark would otherwise execute as BroadcastNestedLoopJoin (quadratic
    compare, broadcast of a whole side).

    Plan: each interval explodes to the grid cells it touches
    (cell = epoch_us div cell_size); candidates equi-join on the cell
    (hash shuffle, AQE-skew-splittable), then the exact overlap
    predicate filters survivors. A pair sharing k cells would surface
    k times, so matches are kept only in the FIRST shared cell
    (`greatest(a.first_cell, b.first_cell) = cell`) — dedup as a
    map-side filter, not a distinct shuffle.

    Cost model: explode factor ≈ interval_len/cell_size + 1 per row;
    candidate count per cell ≈ (intervals alive in that hour)² — pick
    cell_minutes near the typical interval length so both stay small.
    `a` and `b` must have disjoint column names; `extra_pred` joins
    extra conditions into the cell-join (pushed into the shuffled
    join, e.g. a.user < b.user for self-joins).

    No reference analog (taps moves rows; it has no temporal algebra)
    — this is the standard interval-join strategy from streaming
    engines (Flink's interval join buckets the same way).
    """
    cell_us = cell_minutes * 60 * 1_000_000
    micros = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731

    def cells(df: DataFrame, s: str, e: str, c0_name: str) -> DataFrame:
        c0 = F.floor(micros(s) / cell_us).cast("long")
        c1 = F.floor(micros(e) / cell_us).cast("long")
        return df.withColumn(c0_name, c0).withColumn(
            "_cell", F.explode(F.sequence(c0, c1))
        )

    ae = cells(a, a_start, a_end, "_c0a")
    be = cells(b, b_start, b_end, "_c0b").withColumnRenamed("_cell", "_cellb")
    cond = (
        (ae["_cell"] == be["_cellb"])
        & (F.col(a_start) <= F.col(b_end))
        & (F.col(b_start) <= F.col(a_end))
        # keep each pair only in its first shared cell (dedup-free)
        & (F.greatest(F.col("_c0a"), F.col("_c0b")) == ae["_cell"])
    )
    if extra_pred is not None:
        cond = cond & extra_pred
    return ae.join(be, cond).drop("_cell", "_cellb", "_c0a", "_c0b")


def tumbling_window_agg(
    df: DataFrame, ts_col: str = "ts", minutes: int = 10, by: str = "event_type"
) -> DataFrame:
    """Tumbling event-time windows (epoch-aligned, like Structured
    Streaming) with count + value sum per (window, key).

    `window_start` is TIMESTAMP_NTZ in both modes: a batch frame's `ts`
    is already NTZ, and a stream's TIMESTAMP `ts` (watermarks accept
    only TIMESTAMP) is relabelled under the pinned UTC session."""
    return (
        df.groupBy(F.window(ts_col, f"{minutes} minutes").alias("w"), by)
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            by,
            "n_events",
            "sum_value",
        )
    )


def sliding_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    width_minutes: int = 15,
    slide_minutes: int = 5,
    by: str = "event_type",
) -> DataFrame:
    """Sliding windows: each event lands in width/slide windows
    (F.window expands them map-side; no self-join). `window_start` is
    NTZ in both modes, as in tumbling_window_agg."""
    return (
        df.groupBy(
            F.window(ts_col, f"{width_minutes} minutes", f"{slide_minutes} minutes").alias("w"),
            by,
        )
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            by,
            "n_events",
            "sum_value",
        )
    )


def gap_fill_daily(
    ev: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Time-series resample to a daily grid with forward fill — the
    hypertable gap-fill op: per entity, one row per calendar day
    between the entity's OWN first→last observation (timescaledb
    gapfill bounds), day-aggregated value carried forward across gap
    days (`last(..., ignoreNulls)` over an unbounded-preceding
    frame) — so every output row has a fill value, no leading NULLs.

    Scale: the spine is one exploded date sequence per entity derived
    from the daily-grain aggregate itself (no driver loop, no cross
    join). The heavy input collapses to daily grain
    BEFORE the spine join, so the join and the fill window both run
    on the small resampled frame, partitioned by entity.
    """
    day = F.to_date(F.col(ts_col))
    daily = ev.groupBy(F.col(user_col), day.alias("day")).agg(
        F.round(F.sum(value_col), 2).alias("day_value"),
        F.count("*").alias("n_events"),
    )
    spine = (
        daily.groupBy(user_col)
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(user_col, F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    w = (
        Window.partitionBy(user_col)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, [user_col, "day"], "left")
        .select(
            user_col,
            "day",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("day_value", ignorenulls=True).over(w).alias("filled_value"),
            F.col("day_value").isNull().alias("is_gap"),
        )
    )


def hourly_partials(ev: DataFrame) -> DataFrame:
    """Fine grain of the continuous-aggregate rollup (the hypertable
    pattern): per (hour, event_type), the event count and the value sum
    in unrounded DECIMAL, so every coarser grain re-aggregates exactly
    (see queries/numeric.py). A stream maintains this table
    incrementally; daily_rollup derives the coarse grain from it.

    Scale: raw rows are touched once; the hourly frame is ~rows/3600,
    so a year of 100 TB telemetry rolls up through a few-GB
    intermediate. One shuffle on (hour, event_type)."""
    from taps_spark.queries.numeric import DECIMAL_T

    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast(DECIMAL_T)).alias("sum_v"),
    )


def daily_rollup(hourly: DataFrame) -> DataFrame:
    """Coarse grain derived FROM the hourly partials — never from raw
    rows — exactly how timescaledb continuous aggregates / Druid rollup
    segments compose resolutions. Rounding happens once, here. Daily
    also exposes what only a partial-preserving rollup can answer
    cheaply: the peak hour's event count and the number of active
    hours. One shuffle on (day, event_type) over the small frame."""
    return hourly.groupBy(
        F.date_format(F.date_trunc("day", "hour_start"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.round(F.sum("sum_v"), 2).cast("double").alias("sum_value"),
        F.max("n_events").alias("peak_hour_events"),
        F.count("*").cast("int").alias("n_active_hours"),
    )
