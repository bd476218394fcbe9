"""Event-analytics query inventory (SURVEY.md §2c) over the events
fixture — batch forms whose semantics match the streaming module's
(taps_spark/streaming)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from taps_spark.io.tables import load_tables, materialize
from taps_spark.operators.events import (
    session_stats,
    sliding_window_agg,
    tumbling_window_agg,
)
from taps_spark.queries import query

TUMBLING_ORACLE = """
SELECT make_timestamp((epoch_us(ts) // 600000000) * 600000000) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("events_tumbling_window", oracle=TUMBLING_ORACLE)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling event-time windows per event type.

    Uses F.window — identical epoch-aligned bucketing to Structured
    Streaming, so this batch query is also the oracle for the
    streaming variant (events_stream_tumbling).
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return tumbling_window_agg(ev, minutes=10).orderBy("window_start", "event_type")


SLIDING_ORACLE = """
SELECT make_timestamp((epoch_us(ts) // 300000000 - j) * 300000000) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events
CROSS JOIN (SELECT unnest(range(3)) AS j) ks
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("events_sliding_window", oracle=SLIDING_ORACLE)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-minute windows sliding every 5 minutes: each event expands
    into width/slide = 3 windows map-side (F.window), no self-join.
    The oracle reproduces the expansion with a 3-row cross join."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return sliding_window_agg(ev, width_minutes=15, slide_minutes=5).orderBy(
        "window_start", "event_type"
    )


SESSION_ORACLE = """
WITH lagged AS (
  SELECT user_id, event_id, ts, value,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM lagged
),
sess AS (
  SELECT user_id, ts, value,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       MIN(ts)              AS session_start,
       MAX(ts)              AS session_end,
       COUNT(*)             AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM sess
GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


@query("events_sessionize", oracle=SESSION_ORACLE)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap
    (gaps-and-islands: lag + cumulative flag sum — one shuffle on
    user_id, linear per user; microsecond-exact gap arithmetic).
    Matches Structured Streaming's session_window semantics for the
    same gap (streaming variant in taps_spark/streaming)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return session_stats(ev, gap_minutes=30).orderBy("user_id", "session_id")


TOP_USERS_ORACLE = """
SELECT user_id, event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY user_id, event_type
QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY COUNT(*) DESC, user_id) <= 3
ORDER BY event_type, n_events DESC, user_id
"""


@query("events_top_users_per_type", oracle=TOP_USERS_ORACLE)
def events_top_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most active users per event type (grouped agg feeding a
    window top-k — the classic leaderboard shape)."""
    from pyspark.sql import Window

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    per_user = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value")
    )
    w = Window.partitionBy("event_type").orderBy(F.col("n_events").desc(), "user_id")
    return (
        per_user.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
        .orderBy("event_type", F.col("n_events").desc(), "user_id")
    )


FUNNEL_ORACLE = """
WITH s AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id
),
v AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s ON e.user_id = s.user_id AND e.ts > s.t1
  WHERE e.event_type = 'view'
  GROUP BY e.user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t2
  WHERE e.event_type = 'click'
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM s) AS n_signup,
       (SELECT COUNT(*) FROM v) AS n_signup_view,
       (SELECT COUNT(*) FROM c) AS n_signup_view_click
"""


@query("events_funnel", oracle=FUNNEL_ORACLE)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (signup → later view → later click):
    per-stage first-occurrence times chained by strict event-time
    order, counting users who completed each prefix.

    Scale: three grouped mins, each shuffling ONLY the filtered event
    slice on user_id; stage joins are user-level (tiny vs the event
    log). The strict `>` chaining makes the funnel order-sensitive —
    a user whose click precedes their post-signup view does NOT count
    as stage 3 — which no unordered distinct-count can express.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s.agg(F.count("*").alias("n_signup"))
        .crossJoin(v.agg(F.count("*").alias("n_signup_view")))
        .crossJoin(c.agg(F.count("*").alias("n_signup_view_click")))
    )


RETENTION_ORACLE = """
WITH first_seen AS (
  SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS active_week FROM events
)
SELECT f.cohort_week,
       CAST(DATE_DIFF('day', f.cohort_week, a.active_week) // 7 AS INT) AS week_offset,
       COUNT(*) AS n_active
FROM first_seen f JOIN activity a ON f.user_id = a.user_id
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("events_retention_cohorts", oracle=RETENTION_ORACLE)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-activity week,
    counted in every later week they return — the standard growth
    triangle.

    Scale: one shuffle for first-seen (min per user), one distinct on
    (user, week) — both partial-aggregated map-side; the cohort join
    is user-level. date_trunc('week') buckets identically in Spark
    and DuckDB (Monday start).
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    return (
        first_seen.join(activity, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.count("*").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


GAP_FILL_ORACLE = """
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day, value
  FROM events WHERE user_id < 10
),
daily AS (
  SELECT user_id, day, ROUND(SUM(value), 2) AS day_value, COUNT(*) AS n_events
  FROM ev GROUP BY user_id, day
),
bounds AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id),
spine AS (
  SELECT user_id, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM bounds
)
SELECT s.user_id,
       STRFTIME(s.day, '%Y-%m-%d') AS day,
       COALESCE(d.n_events, 0) AS n_events,
       LAST_VALUE(d.day_value IGNORE NULLS)
         OVER (PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
       d.day_value IS NULL AS is_gap
FROM spine s LEFT JOIN daily d USING (user_id, day)
ORDER BY s.user_id, s.day
"""


@query("events_gap_fill_daily", oracle=GAP_FILL_ORACLE)
def events_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily resample + forward fill (hypertable gapfill/locf): every
    (user, day) cell on a per-user first→last date spine, day-aggregated value
    carried across gap days, gap rows flagged. Input collapses to
    daily grain before the spine join, so the fill runs on the small
    resampled frame."""
    from taps_spark.operators.events import gap_fill_daily

    ev = load_tables(spark, sf_dir, ("events",))["events"].filter(F.col("user_id") < 10)
    filled = gap_fill_daily(ev)
    return filled.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        "filled_value",
        "is_gap",
    ).orderBy("user_id", "day")


ANOMALY_ORACLE = """
WITH w AS (
  SELECT user_id, event_id, value,
         SUM(value)       OVER win AS s,
         SUM(value*value) OVER win AS sq,
         COUNT(*)         OVER win AS n
  FROM events
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)
),
scored AS (
  SELECT user_id, event_id, value,
         (sq - s*s/n) / (n-1) AS var,
         value - s/n AS dev
  FROM w WHERE n >= 6
)
SELECT user_id, event_id, ROUND(value, 2) AS value,
       ROUND(ABS(dev) / SQRT(var), 2) AS z
FROM scored
WHERE var > 1e-9 AND ABS(dev) / SQRT(var) > 2.5
ORDER BY user_id, event_id
"""


@query("events_anomaly_zscore", oracle=ANOMALY_ORACLE)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each event scored against
    its user's TRAILING 12-event window (current row excluded — no
    self-contamination), flagged above 2.5σ. Variance comes from
    explicit sum/sum-of-squares so both engines run the identical
    float expression; windows with ~zero variance are excluded with a
    1e-9 guard because an exact-0 variance is sign-unstable in float
    across engines.

    Scale: one shuffle on user_id; the window frame is O(1) state per
    row. The anomaly filter drops ~95% of rows before the final sort."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-12, -1)
    )
    w = ev.select(
        "user_id", "event_id", "value",
        F.sum("value").over(win).alias("s"),
        F.sum(F.col("value") * F.col("value")).over(win).alias("sq"),
        F.count("*").over(win).alias("n"),
    ).filter(F.col("n") >= 6)
    scored = w.select(
        "user_id", "event_id", "value",
        ((F.col("sq") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)).alias("var"),
        (F.col("value") - F.col("s") / F.col("n")).alias("dev"),
    )
    z = F.abs(F.col("dev")) / F.sqrt(F.col("var"))
    return (
        scored.filter((F.col("var") > 1e-9) & (z > 2.5))
        .select(
            "user_id", "event_id",
            F.round("value", 2).alias("value"),
            F.round(z, 2).alias("z"),
        )
        .orderBy("user_id", "event_id")
    )


HYPERTABLE_ORACLE = """
WITH hourly AS (
  SELECT DATE_TRUNC('hour', ts) AS hour_start,
         event_type,
         COUNT(*) AS n_events,
         SUM(CAST(value AS DECIMAL(27,6))) AS sum_v
  FROM events
  GROUP BY 1, 2
)
SELECT STRFTIME(DATE_TRUNC('day', hour_start), '%Y-%m-%d') AS day,
       event_type,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(ROUND(SUM(sum_v), 2) AS DOUBLE) AS sum_value,
       CAST(MAX(n_events) AS BIGINT) AS peak_hour_events,
       CAST(COUNT(*) AS INT) AS n_active_hours
FROM hourly
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("events_hypertable_rollup", oracle=HYPERTABLE_ORACLE)
def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly→daily continuous-aggregate rollup: the coarse grain is
    computed FROM the fine grain's decimal partials (raw rows scanned
    once), surfacing per-day totals plus peak-hour count and active
    hours — the hypertable/materialized-rollup pattern. See
    operators/events.hypertable_rollup."""
    from taps_spark.operators.events import hypertable_rollup

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return hypertable_rollup(ev).orderBy("day", "event_type")


@query("events_hll_sketch_union")  # rows-only: HLL binary is engine-specific
def events_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches — the 100 TB pattern for
    "distinct users per type over any date range" without rescanning:
    build one HLL sketch per (event_type, day) partial (the state a
    rollup table would persist), then hll_union_agg merges partials
    per type and estimates.

    Two shuffles total: partial sketches (map-side combined — the
    sketch IS the combine state, bytes per group not rows), then the
    tiny union over #days sketches per type. The exact
    count_distinct rides along to expose the estimation error;
    tests/test_operators.py pins the error bound and proves
    union-of-partials ≡ one-shot sketch.

    Rows-only by design: Apache DataSketches HLL binaries have no
    DuckDB oracle; semantics are pinned in pytest instead.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("day_exact"),
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_distinct_users"),
            F.count("*").alias("n_days"),
        )
        .join(
            ev.groupBy("event_type").agg(
                F.count_distinct("user_id").alias("exact_distinct_users")
            ),
            "event_type",
        )
        .select(
            "event_type",
            "n_days",
            "est_distinct_users",
            "exact_distinct_users",
            F.round(
                F.abs(F.col("est_distinct_users") - F.col("exact_distinct_users"))
                / F.col("exact_distinct_users"),
                4,
            ).alias("rel_error"),
        )
        .orderBy("event_type")
    )


COUNTMIN_ORACLE = """
WITH e AS (SELECT user_id FROM events),
x AS (
  SELECT user_id, s.seed,
         ('0x' || SUBSTRING(MD5(CAST(s.seed AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT % 256 AS bucket
  FROM e CROSS JOIN (SELECT unnest(range(4)) AS seed) s
),
sketch AS (
  SELECT seed, bucket, COUNT(*) AS c FROM x GROUP BY seed, bucket
),
exact AS (
  SELECT user_id, COUNT(*) AS exact_ct FROM e GROUP BY user_id
),
top AS (
  SELECT user_id, exact_ct,
         ROW_NUMBER() OVER (ORDER BY exact_ct DESC, user_id) AS rn
  FROM exact
),
probe AS (
  SELECT t.user_id, t.exact_ct, s.seed,
         ('0x' || SUBSTRING(MD5(CAST(s.seed AS VARCHAR) || '|' || CAST(t.user_id AS VARCHAR)), 1, 12))::BIGINT % 256 AS bucket
  FROM top t CROSS JOIN (SELECT unnest(range(4)) AS seed) s
  WHERE t.rn <= 10
)
SELECT p.user_id, CAST(p.exact_ct AS BIGINT) AS exact_ct,
       CAST(MIN(sk.c) AS BIGINT) AS cm_est,
       CAST(MIN(sk.c) - p.exact_ct AS BIGINT) AS overcount
FROM probe p JOIN sketch sk ON sk.seed = p.seed AND sk.bucket = p.bucket
GROUP BY p.user_id, p.exact_ct
ORDER BY exact_ct DESC, user_id
"""


@query("events_countmin_heavy_hitters", oracle=COUNTMIN_ORACLE)
def events_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters: build a depth-4 × width-256
    count-min sketch over the event stream's user ids (the mergeable
    frequency sibling of `events_hll_sketch_union`'s distinct-count
    sketch), then read back the sketch estimate for the true top-10
    users next to their exact counts — exposing the sketch's
    one-sided overcount (cm_est ≥ exact, within εN with probability
    1-δ). The md5 hash family makes every counter value
    engine-portable, so the whole sketch is oracle-checked exactly.

    Scale: the sketch build shuffles at most depth × width = 1024
    counter groups regardless of input size (map-side combined —
    that bounded state IS the point of a sketch: partials from any
    partitioning merge by addition), and the probe side joins the
    tiny sketch broadcast. The exact-count sidecar exists only to
    audit the estimate; a production rollup would persist the 1024
    counters alone.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"].select("user_id")
    seeds = F.explode(F.sequence(F.lit(0), F.lit(3))).alias("seed")

    def bucket(seed_col, key_col):
        return (
            F.conv(
                F.substring(F.md5(F.concat_ws("|", seed_col, key_col)), 1, 12), 16, 10
            ).cast("long")
            % 256
        )

    x = ev.select("user_id", seeds).select(
        "user_id", "seed", bucket(F.col("seed"), F.col("user_id")).alias("bucket")
    )
    sketch = x.groupBy("seed", "bucket").agg(F.count("*").alias("c"))

    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact_ct"))
    # Global top-10 via sort+limit → TakeOrderedAndProject (each task
    # keeps 10 rows, driver merges) — a global row_number window would
    # move EVERY user's count to one partition (WindowExec warning).
    top = exact.orderBy(F.col("exact_ct").desc(), "user_id").limit(10)
    probe = top.select("user_id", "exact_ct", seeds).select(
        "user_id",
        "exact_ct",
        "seed",
        bucket(F.col("seed"), F.col("user_id")).alias("bucket"),
    )
    return (
        probe.join(F.broadcast(sketch), ["seed", "bucket"])
        .groupBy("user_id", "exact_ct")
        .agg(F.min("c").alias("cm_est"))
        .select(
            "user_id",
            "exact_ct",
            "cm_est",
            (F.col("cm_est") - F.col("exact_ct")).alias("overcount"),
        )
        .orderBy(F.col("exact_ct").desc(), "user_id")
    )


INTERP_ORACLE = """
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day, value
  FROM events WHERE user_id < 10
),
daily AS (
  SELECT user_id, day, ROUND(SUM(value), 2) AS day_value
  FROM ev GROUP BY user_id, day
),
bounds AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id),
spine AS (
  SELECT user_id, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM bounds
),
j AS (
  SELECT s.user_id, s.day, d.day_value
  FROM spine s LEFT JOIN daily d USING (user_id, day)
),
f AS (
  SELECT user_id, day, day_value,
    LAST_VALUE(day_value IGNORE NULLS) OVER wf AS pv,
    LAST_VALUE(CASE WHEN day_value IS NOT NULL THEN day END IGNORE NULLS) OVER wf AS pd,
    FIRST_VALUE(day_value IGNORE NULLS) OVER wb AS nv,
    FIRST_VALUE(CASE WHEN day_value IS NOT NULL THEN day END IGNORE NULLS) OVER wb AS nd
  FROM j
  WINDOW wf AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wb AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, STRFTIME(day, '%Y-%m-%d') AS day,
       ROUND(CASE WHEN day_value IS NOT NULL THEN day_value
                  ELSE pv + (nv - pv) * ((day - pd) / (nd - pd)) END, 4) AS interp_value,
       day_value IS NULL AS is_gap
FROM f
ORDER BY user_id, day
"""


@query("events_gap_fill_interpolate", oracle=INTERP_ORACLE)
def events_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily resample + LINEAR interpolation across gaps — the
    `interpolate()` half of timescaledb's time_bucket_gapfill
    (`events_gap_fill_daily` is the locf half): each missing day gets
    prev + (next − prev) × day-fraction between its two nearest
    observed days. Spine bounds are each user's own first→last
    observed day, so every gap has both neighbors by construction.

    Scale: identical shape to the locf variant — input collapses to
    daily grain before the spine join, and the forward/backward
    neighbor scans are two frames over ONE sort order (single window
    exchange, no self-join against observed rows).
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"].filter(F.col("user_id") < 10)
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value"), 2).alias("day_value")
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    j = spine.join(daily, ["user_id", "day"], "left")
    wf = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_day = F.when(F.col("day_value").isNotNull(), F.col("day"))
    pv = F.last("day_value", ignorenulls=True).over(wf)
    pd_ = F.last(known_day, ignorenulls=True).over(wf)
    nv = F.first("day_value", ignorenulls=True).over(wb)
    nd = F.first(known_day, ignorenulls=True).over(wb)
    interp = F.when(F.col("day_value").isNotNull(), F.col("day_value")).otherwise(
        pv + (nv - pv) * (F.datediff(F.col("day"), pd_) / F.datediff(nd, pd_))
    )
    return j.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(interp, 4).alias("interp_value"),
        F.col("day_value").isNull().alias("is_gap"),
    ).orderBy("user_id", "day")


TIME_WEIGHT_ORACLE = """
WITH o AS (
  SELECT user_id, value,
         epoch_us(ts) AS t,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nt
  FROM events
),
w AS (
  SELECT user_id,
         CAST(value * (nt - t) AS DECIMAL(27,6)) AS contrib,
         nt - t AS dur
  FROM o WHERE nt IS NOT NULL
)
SELECT user_id,
       ROUND(CAST(SUM(contrib) AS DOUBLE) / SUM(dur), 4) AS tw_avg,
       CAST(SUM(dur) // 1000000 AS BIGINT) AS span_secs,
       CAST(COUNT(*) + 1 AS BIGINT) AS n_points
FROM w
GROUP BY user_id
ORDER BY user_id
"""


@query("events_time_weighted_avg", oracle=TIME_WEIGHT_ORACLE)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user (timescaledb `time_weight`
    LOCF): each observation weighted by how long it remained current
    — Σ value·Δt / Σ Δt over the user's observation span. The honest
    aggregate for irregularly sampled gauges, where a plain AVG
    over-counts burst periods.

    Determinism: per-row value·Δt double products are identical in
    both engines; they sum EXACTLY as decimal(27,6) (numeric.py
    pattern) with the single division done once in doubles.

    Scale: one window sort per user for the LEAD, and the grouped agg
    reuses that user_id partitioning — a single exchange end to end;
    microsecond-exact gaps via unix_micros (operators/events.py
    pattern).
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id", "value", micros.alias("t"), F.lead(micros, 1).over(w).alias("nt")
    )
    wd = o.where(F.col("nt").isNotNull()).select(
        "user_id",
        (F.col("value") * (F.col("nt") - F.col("t"))).cast("decimal(27,6)").alias("contrib"),
        (F.col("nt") - F.col("t")).alias("dur"),
    )
    return (
        wd.groupBy("user_id")
        .agg(
            F.round(F.sum("contrib").cast("double") / F.sum("dur"), 4).alias("tw_avg"),
            F.expr("sum(dur) div 1000000").alias("span_secs"),
            (F.count("*") + 1).alias("n_points"),
        )
        .orderBy("user_id")
    )


SCD2_ORACLE = """
WITH changes AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_state
  FROM events
),
scd AS (
  SELECT user_id, event_type AS state, ts AS valid_from, event_id,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM changes
  WHERE prev_state IS NULL OR prev_state <> event_type
)
SELECT user_id, state, valid_from, valid_to, valid_to IS NULL AS is_current
FROM scd
ORDER BY user_id, valid_from, state
"""


@query("events_scd2_intervals", oracle=SCD2_ORACLE)
def events_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build: compress each user's
    event stream into state validity intervals [valid_from, valid_to)
    — consecutive repeats collapse, the open interval is flagged
    current. The warehouse op that turns a CDC/event log into a
    point-in-time joinable dimension (the as-of join's build side).

    Scale: both windows partition on user_id, so Catalyst plans ONE
    hash exchange; the change-filter drops repeat rows before the
    second sort. No global ordering anywhere.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lag("event_type").over(w).alias("prev_state"),
    ).filter(F.col("prev_state").isNull() | (F.col("prev_state") != F.col("event_type")))
    scd = changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    return scd.select(
        "user_id",
        "state",
        "valid_from",
        "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
    ).orderBy("user_id", "valid_from", "state")


INTERVAL_OVERLAP_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 30*60*1000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
  FROM ordered
),
sess AS (
  SELECT user_id, session_id, MIN(ts) AS t0, MAX(ts) AS t1
  FROM s GROUP BY 1, 2
)
SELECT a.user_id AS user_a, b.user_id AS user_b,
       COUNT(*) AS n_session_pairs,
       CAST(SUM(epoch_us(LEAST(a.t1, b.t1)) - epoch_us(GREATEST(a.t0, b.t0)))
            AS BIGINT) AS overlap_us
FROM sess a JOIN sess b
  ON a.user_id < b.user_id AND a.t0 <= b.t1 AND b.t0 <= a.t1
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("events_interval_overlap", oracle=INTERVAL_OVERLAP_ORACLE)
def events_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-session analysis: which user pairs had sessions
    overlapping in time, how many pairs, and for how long — the
    interval-overlap self-join (co-occurrence, conflict detection,
    concurrency billing).

    The ORACLE runs the naive theta join; the engine runs
    `interval_overlap_join` — intervals exploded onto hour cells,
    candidates equi-joined per cell, overlap verified exactly, pair
    kept only in its first shared cell. Same answer, but the Spark
    plan is a hash join AQE can repartition/skew-split, not the
    BroadcastNestedLoopJoin the raw predicate would compile to.

    Scale: explode factor ≈ session_len/1 h + 1; per-cell candidate
    sets are (concurrent sessions that hour)² — bounded by actual
    concurrency, not corpus size. No reference analog (taps has no
    temporal algebra).
    """
    from taps_spark.operators.events import interval_overlap_join

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    sess = session_stats(ev, gap_minutes=30)
    a = sess.select(
        F.col("user_id").alias("user_a"),
        F.col("session_start").alias("start_a"),
        F.col("session_end").alias("end_a"),
    )
    b = sess.select(
        F.col("user_id").alias("user_b"),
        F.col("session_start").alias("start_b"),
        F.col("session_end").alias("end_b"),
    )
    pairs = interval_overlap_join(
        a, b, "start_a", "end_a", "start_b", "end_b", cell_minutes=60,
        extra_pred=F.col("user_a") < F.col("user_b"),
    )
    micros = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    overlap = micros(F.least("end_a", "end_b")) - micros(F.greatest("start_a", "start_b"))
    return (
        pairs.groupBy("user_a", "user_b")
        .agg(
            F.count("*").alias("n_session_pairs"),
            F.sum(overlap).cast("long").alias("overlap_us"),
        )
        .orderBy("user_a", "user_b")
    )


MARKOV_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS cur,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events
),
trans AS (
  SELECT cur, nxt, COUNT(*) AS n
  FROM seq WHERE nxt IS NOT NULL
  GROUP BY cur, nxt
),
tot AS (SELECT cur, SUM(n) AS t FROM trans GROUP BY cur)
SELECT trans.cur, trans.nxt,
       CAST(trans.n AS BIGINT) AS n_transitions,
       ROUND(CAST(trans.n AS DOUBLE) / tot.t, 6) AS p
FROM trans JOIN tot USING (cur)
ORDER BY trans.cur, trans.nxt
"""


@query("events_markov_transitions", oracle=MARKOV_ORACLE)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order user-journey Markov model: P(next event type |
    current event type), estimated from per-user time-ordered event
    sequences (the journey-analytics transition matrix).

    Plan: ONE window exchange on user_id (lead over ts order), then a
    tiny (|types|²) aggregation with map-side combine. Scale: the
    per-user sequence sort is the only data-sized cost and AQE splits
    skewed users; the transition matrix itself is dimension-sized
    regardless of input.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    trans = seq.groupBy("cur", "nxt").agg(F.count("*").alias("n_transitions"))
    tot = Window.partitionBy("cur")
    return (
        trans.select(
            "cur",
            "nxt",
            "n_transitions",
            F.round(
                F.col("n_transitions").cast("double")
                / F.sum("n_transitions").over(tot),
                6,
            ).alias("p"),
        )
        .orderBy("cur", "nxt")
    )


SEQUENCE_PATTERN_ORACLE = """
WITH o AS (
  SELECT user_id, ts, event_type,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_purchase,
         MIN(CASE WHEN event_type = 'error' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_error
  FROM events
)
SELECT user_id, COUNT(*) AS n_sequences
FROM o
WHERE event_type = 'view'
  AND next_purchase IS NOT NULL
  AND next_purchase <= ts + INTERVAL 30 MINUTE
  AND (next_error IS NULL OR next_error > next_purchase)
GROUP BY user_id
ORDER BY user_id
"""


@query("events_sequence_pattern", oracle=SEQUENCE_PATTERN_ORACLE)
def events_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-shaped sequence detection: per user, count
    view→purchase conversions completing within 30 minutes with NO
    intervening error event (a negative condition funnels can't
    express).

    Single window pass: two conditional running-MINs over the
    forward frame give each view its next purchase/error timestamp;
    the pattern predicate is then row-local.  One shuffle on
    user_id, deterministic tie order (ts, event_id) on both engines.
    At 100 TB the user_id partitioning is the natural key; no
    self-joins, no explode.
    """
    from pyspark.sql import Window

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    o = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).over(w).alias(
            "next_purchase"
        ),
        F.min(F.when(F.col("event_type") == "error", F.col("ts"))).over(w).alias(
            "next_error"
        ),
    )
    matched = o.filter(
        (F.col("event_type") == "view")
        & F.col("next_purchase").isNotNull()
        & (F.col("next_purchase") <= F.col("ts") + F.expr("INTERVAL 30 MINUTES"))
        & (F.col("next_error").isNull() | (F.col("next_error") > F.col("next_purchase")))
    )
    return (
        matched.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sequences"))
        .orderBy("user_id")
    )


ATTRIBUTION_ORACLE = """
WITH o AS (
  SELECT user_id, ts, event_type,
         last_value(CASE WHEN event_type IN ('view','click','signup')
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_type,
         last_value(CASE WHEN event_type IN ('view','click','signup')
                         THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_ts
  FROM events
)
SELECT touch_type, COUNT(*) AS n_conversions
FROM o
WHERE event_type = 'purchase'
  AND touch_type IS NOT NULL
  AND touch_ts >= ts - INTERVAL 7 DAY
GROUP BY touch_type
ORDER BY touch_type
"""


@query("events_attribution_last_touch", oracle=ATTRIBUTION_ORACLE)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the most recent
    preceding touch event (view/click/signup) within a 7-day lookback.

    One window pass per user carries the latest touch forward
    (last+ignoreNulls over the preceding frame) — both the touch type
    and its timestamp ride the SAME predicate, so they stay
    consistent without a struct.  One shuffle on user_id, then a tiny
    grouped count.  Deterministic tie order (ts, event_id) matches
    the oracle's window exactly.
    """
    from pyspark.sql import Window

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    touches = ("view", "click", "signup")
    wp = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin(*touches)
    o = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(wp)
        .alias("touch_type"),
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True)
        .over(wp)
        .alias("touch_ts"),
    )
    conv = o.filter(
        (F.col("event_type") == "purchase")
        & F.col("touch_type").isNotNull()
        & (F.col("touch_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS"))
    )
    return (
        conv.groupBy("touch_type")
        .agg(F.count(F.lit(1)).alias("n_conversions"))
        .orderBy("touch_type")
    )


ANOMALY_MAD_ORACLE = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
),
mad AS (
  SELECT e.event_type, med.med,
         quantile_cont(ABS(e.value - med.med), 0.5) AS mad
  FROM events e JOIN med ON e.event_type = med.event_type
  GROUP BY e.event_type, med.med
)
SELECT e.event_type,
       ROUND(mad.med, 4) AS median_value,
       ROUND(mad.mad, 4) AS mad_value,
       CAST(SUM(CASE WHEN ABS(e.value - mad.med) > 3 * 1.4826 * mad.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events e JOIN mad ON e.event_type = mad.event_type
GROUP BY e.event_type, mad.med, mad.mad
ORDER BY e.event_type
"""


@query("events_anomaly_mad", oracle=ANOMALY_MAD_ORACLE)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation: flag
    values beyond 3 robust sigmas (1.4826·MAD) of their event-type
    median — immune to the outliers themselves, unlike the z-score
    variant (events_anomaly_zscore), which a single extreme value can
    mask.

    Three passes by necessity (median, then MAD, then flags — MAD is
    not a one-pass sketch), but each grouped stat is per-event-type
    (5 rows) so the two stat frames broadcast back onto the stream;
    only the base scan repeats.  At 100 TB swap exact percentile for
    approx_percentile and the shape is unchanged.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.expr("percentile(abs(value - med), 0.5D)").alias("mad"))
    )
    return (
        ev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med")) > 3 * 1.4826 * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers")
        )
        .select(
            "event_type",
            F.round("med", 4).alias("median_value"),
            F.round("mad", 4).alias("mad_value"),
            "n_outliers",
        )
        .orderBy("event_type")
    )


EWMA_ORACLE = """
WITH r AS (
  SELECT event_type, ts, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
),
a AS (
  SELECT event_type, LIST(value ORDER BY ts, event_id) AS vals
  FROM r WHERE rn <= 10 GROUP BY event_type
)
SELECT event_type,
       ROUND(LIST_REDUCE(vals,
             (acc, x) -> 0.2::DOUBLE * x + 0.8::DOUBLE * acc), 4) AS ewma_value
FROM a
ORDER BY event_type
"""


@query("events_ewma", oracle=EWMA_ORACLE)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (α=0.2) of each event
    type's 10 most recent values — the recursive smoother windows
    can't express, done as a deterministic left fold over an ordered
    array.

    Both engines fold the SAME ordered list with the SAME double
    arithmetic, so the result is bit-identical (verified: identical
    ulps) — no rounding-tie exposure.  Plan: one shuffle on
    event_type; the row_number prefilter bounds the collected array
    at 10 elements per key BEFORE collect_list, so state stays O(k)
    per key at any corpus size.
    """
    from pyspark.sql import Window

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = Window.partitionBy("event_type").orderBy(F.desc("ts"), F.desc("event_id"))
    last10 = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("event_type", "ts", "event_id", "value")
    )
    arr = last10.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))).alias("s")
    )
    return arr.select(
        "event_type",
        F.round(
            F.expr(
                "aggregate(slice(transform(s, x -> x.value), 2, size(s) - 1), "
                "CAST(transform(s, x -> x.value)[0] AS DOUBLE), "
                "(acc, x) -> 0.2D * x + 0.8D * acc)"
            ),
            4,
        ).alias("ewma_value"),
    ).orderBy("event_type")


RFM_ORACLE = """
WITH ref AS (SELECT MAX(ts) AS ref_ts FROM events),
p AS (
  SELECT user_id,
         DATE_DIFF('day', MAX(ts), (SELECT ref_ts FROM ref)) AS recency_days,
         COUNT(*) AS frequency,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(27,6))), 2) AS DOUBLE) AS monetary
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
s AS (
  SELECT user_id, recency_days, frequency, monetary,
         NTILE(4) OVER (ORDER BY recency_days ASC, user_id) AS r_score,
         NTILE(4) OVER (ORDER BY frequency DESC, user_id) AS f_score,
         NTILE(4) OVER (ORDER BY monetary DESC, user_id) AS m_score
  FROM p
)
SELECT user_id, recency_days, frequency, monetary, r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
         || CAST(m_score AS VARCHAR) AS segment
FROM s
ORDER BY user_id
"""


@query("events_rfm_segments", oracle=RFM_ORACLE)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-user recency (days since last
    purchase vs corpus max ts), frequency, and monetary value, each
    quartiled into 1–4 scores with unique tiebreaks, concatenated
    into the classic 'rfm' segment label.

    One grouped agg (decimal-exact monetary sum), then three NTILE
    windows over the USER-level relation — which is already
    aggregates-sized, so the total-order windows rank thousands of
    rows, not events; at larger user counts swap NTILE for
    approx_percentile cut points, same output contract.
    """
    from pyspark.sql import Window

    from taps_spark.queries.numeric import dsum

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    ref = ev.agg(F.max("ts").alias("ref_ts"))
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("frequency"),
            dsum("value", 2).alias("monetary"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "user_id",
            F.datediff(F.col("ref_ts"), F.col("last_ts")).alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    s = p.select(
        "*",
        F.ntile(4).over(Window.orderBy(F.asc("recency_days"), "user_id")).alias("r_score"),
        F.ntile(4).over(Window.orderBy(F.desc("frequency"), "user_id")).alias("f_score"),
        F.ntile(4).over(Window.orderBy(F.desc("monetary"), "user_id")).alias("m_score"),
    )
    return s.withColumn(
        "segment",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    ).orderBy("user_id")


CUMULATIVE_USERS_ORACLE = """
WITH first_seen AS (
  SELECT user_id, CAST(MIN(ts) AS DATE) AS first_day FROM events GROUP BY user_id
),
per_day AS (
  SELECT first_day AS day, COUNT(*) AS new_users FROM first_seen GROUP BY first_day
)
SELECT STRFTIME(day, '%Y-%m-%d') AS day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cumulative_users
FROM per_day
ORDER BY day
"""


@query("events_cumulative_unique_users", oracle=CUMULATIVE_USERS_ORACLE)
def events_cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day — the growth curve metric.
    COUNT(DISTINCT) OVER a running frame is unsupported (and would be
    quadratic anyway); the first-seen trick makes it linear: each
    user contributes once at their MIN(ts) day, then a running SUM
    over the per-day new-user counts IS the cumulative distinct.

    Two grouped aggs (user → first day, day → new users) and one
    window over a days-sized relation.  At 100 TB the window ranks
    a few thousand rows regardless of event volume.
    """
    from pyspark.sql import Window

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    first_seen = ev.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("first_day")
    )
    per_day = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    ).orderBy("day")


CUSUM_ORACLE = """
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS cnt
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
k AS (
  SELECT event_type,
         (CAST(SUM(cnt) * 10000 AS BIGINT) // COUNT(*)) / 10000.0 AS kref
  FROM daily GROUP BY event_type
),
idx AS (
  SELECT d.event_type, d.cnt - k.kref AS dev,
         ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.day) AS rn
  FROM daily d JOIN k USING (event_type)
),
c AS (
  SELECT event_type, rn, GREATEST(0, dev) AS s, GREATEST(0, dev) AS m
  FROM idx WHERE rn = 1
  UNION ALL
  SELECT i.event_type, i.rn,
         GREATEST(0, c.s + i.dev),
         GREATEST(c.m, GREATEST(0, c.s + i.dev))
  FROM c JOIN idx i ON i.event_type = c.event_type AND i.rn = c.rn + 1
),
last AS (
  SELECT event_type, s, m,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY rn DESC) AS r
  FROM c
)
SELECT event_type, ROUND(m, 4) AS max_cusum, ROUND(s, 4) AS final_cusum
FROM last WHERE r = 1
ORDER BY event_type
"""


@query("events_cusum_changepoint", oracle=CUSUM_ORACLE)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point statistic per event type: the running
    max(0, S + deviation) accumulation over daily volumes whose peak
    signals a sustained rate shift — the sequential-detection
    primitive behind drift monitors.

    Inherently recursive, so it runs as an ordered-array fold with a
    STRUCT accumulator (running S plus its max) — the same
    deterministic-fold discipline as events_ewma, and the reference
    level is an integer floor-division mean so both engines fold
    bit-identical doubles.  The oracle walks the identical recurrence
    via a recursive CTE.  State per key = days, not events.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    k = daily.groupBy("event_type").agg(
        (
            F.expr("CAST(SUM(cnt) * 10000 AS BIGINT) div COUNT(*)") / 10000.0
        ).alias("kref")
    )
    devs = (
        daily.join(k, "event_type")
        .groupBy("event_type")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(day, cnt - kref as dev))), "
                "e -> e.dev)"
            ).alias("devs")
        )
    )
    folded = devs.select(
        "event_type",
        F.expr(
            "aggregate(devs, struct(CAST(0.0 AS DOUBLE) AS s, CAST(0.0 AS DOUBLE) AS m), "
            "(acc, x) -> struct(greatest(0D, acc.s + x), "
            "greatest(acc.m, greatest(0D, acc.s + x))))"
        ).alias("c"),
    )
    return folded.select(
        "event_type",
        F.round(F.col("c.m"), 4).alias("max_cusum"),
        F.round(F.col("c.s"), 4).alias("final_cusum"),
    ).orderBy("event_type")


HOLT_ORACLE = """
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS cnt
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
idx AS (
  SELECT event_type, cnt,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM daily
),
h AS (
  SELECT event_type, rn, n, cnt AS level, 0.0::DOUBLE AS trend FROM idx WHERE rn = 1
  UNION ALL
  SELECT i.event_type, i.rn, i.n,
         0.5::DOUBLE * i.cnt + 0.5::DOUBLE * (h.level + h.trend),
         0.3::DOUBLE * ((0.5::DOUBLE * i.cnt + 0.5::DOUBLE * (h.level + h.trend)) - h.level)
           + 0.7::DOUBLE * h.trend
  FROM h JOIN idx i ON i.event_type = h.event_type AND i.rn = h.rn + 1
)
SELECT event_type,
       ROUND(level, 4) AS level,
       ROUND(trend, 4) AS trend,
       ROUND(level + 3 * trend, 4) AS forecast_3
FROM h WHERE rn = n
ORDER BY event_type
"""


@query("events_holt_trend", oracle=HOLT_ORACLE)
def events_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (α=0.5, β=0.3) of daily
    event volumes: recursive level+trend state folded over the
    ordered day series, with a 3-step-ahead linear forecast — the
    capacity-planning smoother.

    Same deterministic-fold discipline as events_ewma/CUSUM: a
    struct accumulator (level, trend) over an array bounded at
    days-per-key, initial level = first observation; the oracle walks
    the identical recurrence recursively, so doubles match
    bit-for-bit before rounding.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    arr = daily.groupBy("event_type").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, cnt))), e -> e.cnt)"
        ).alias("xs")
    )
    folded = arr.select(
        "event_type",
        F.expr(
            "aggregate(slice(xs, 2, size(xs) - 1), "
            "struct(CAST(xs[0] AS DOUBLE) AS level, CAST(0.0 AS DOUBLE) AS trend), "
            "(acc, x) -> struct("
            "0.5D * x + 0.5D * (acc.level + acc.trend), "
            "0.3D * ((0.5D * x + 0.5D * (acc.level + acc.trend)) - acc.level) "
            "+ 0.7D * acc.trend))"
        ).alias("h"),
    )
    return folded.select(
        "event_type",
        F.round(F.col("h.level"), 4).alias("level"),
        F.round(F.col("h.trend"), 4).alias("trend"),
        F.round(F.col("h.level") + 3 * F.col("h.trend"), 4).alias("forecast_3"),
    ).orderBy("event_type")


AB_TEST_ORACLE = """
WITH u AS (
  SELECT user_id,
         ('0x' || SUBSTRING(MD5(CAST(user_id AS VARCHAR)), 1, 6))::BIGINT % 2 AS variant,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS exposed,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
v AS (
  SELECT variant, COUNT(*) AS n_users,
         CAST(SUM(converted) AS BIGINT) AS n_converted,
         ROUND(AVG(CAST(converted AS DOUBLE)), 6) AS conv_rate
  FROM u WHERE exposed = 1 GROUP BY variant
)
SELECT variant, n_users, n_converted, conv_rate
FROM v
ORDER BY variant
"""


@query("events_ab_test_analysis", oracle=AB_TEST_ORACLE)
def events_ab_test_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users deterministically bucketed into
    two variants by content hash (the same no-RNG discipline as
    sample_hash_10pct — assignment is reproducible on any engine and
    stable under reprocessing), exposure-filtered (saw a view), with
    per-variant conversion counts and rates.

    One grouped pass to the user grain, then a 2-row rollup — the
    whole experiment readout costs one shuffle keyed on user_id at
    any event volume.  The z-statistic is a driver-side formula over
    these four numbers; the engine's job is the heavy user-grain
    collapse.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    u = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("exposed"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        ),
    ).withColumn(
        "variant",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % 2,
    )
    return (
        u.filter(F.col("exposed") == 1)
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("converted").cast("long").alias("n_converted"),
            F.round(F.avg(F.col("converted").cast("double")), 6).alias("conv_rate"),
        )
        .orderBy("variant")
    )


HOLT_WINTERS_ORACLE = """
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS cnt
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
arr AS (
  SELECT event_type, list(cnt ORDER BY day) AS xs, COUNT(*) AS n
  FROM daily GROUP BY event_type
  HAVING COUNT(*) >= 14
),
h AS (
  SELECT event_type, 7 AS rn, n, xs,
         list_sum(xs[1:7]) / 7.0 AS level,
         0.0::DOUBLE AS trend,
         list_transform(xs[1:7], x -> x - list_sum(xs[1:7]) / 7.0) AS seas
  FROM arr
  UNION ALL
  SELECT event_type, rn + 1, n, xs,
         0.3 * (xs[rn + 1] - seas[rn + 1 - 7]) + 0.7 * (level + trend),
         0.2 * ((0.3 * (xs[rn + 1] - seas[rn + 1 - 7]) + 0.7 * (level + trend)) - level)
           + 0.8 * trend,
         list_append(seas,
           0.4 * (xs[rn + 1] - (0.3 * (xs[rn + 1] - seas[rn + 1 - 7])
                                + 0.7 * (level + trend)))
             + 0.6 * seas[rn + 1 - 7])
  FROM h WHERE rn < n
)
SELECT event_type,
       ROUND(level, 4) AS level,
       ROUND(trend, 4) AS trend,
       ROUND(level + 1 * trend + seas[n + 1 - 7], 4) AS forecast_1,
       ROUND(level + 2 * trend + seas[n + 2 - 7], 4) AS forecast_2,
       ROUND(level + 3 * trend + seas[n + 3 - 7], 4) AS forecast_3
FROM h WHERE rn = n
ORDER BY event_type
"""


@query("events_holt_winters_seasonal", oracle=HOLT_WINTERS_ORACLE)
def events_holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE-SEASONAL smoothing (α=0.3, β=0.2, γ=0.4,
    weekly period m=7) of daily event volumes, with 1/2/3-step-ahead
    forecasts that re-apply the matching day-of-week seasonal — the
    capacity-planning model when traffic has genuine weekly shape
    that events_holt_trend's trend-only fit smears.

    Seeding: level₀ = mean of the first period, trend₀ = 0,
    sᵢ = xᵢ − level₀ (i ≤ m); the fold then walks t = m+1..n keeping
    the FULL seasonal history so s_{t−m} is an exact array lookup.
    Determinism: daily counts are integers, so the seed mean is exact
    in doubles regardless of summation order; every later operation
    is the same literal IEEE expression on both engines, so doubles
    match bit-for-bit before the display rounding (same discipline as
    events_ewma / events_cusum_changepoint / events_holt_trend).

    Scale: one shuffle to (type, day) grain, one to type grain; the
    fold is a per-key codegen'd array aggregate over days-per-key
    elements (bounded: 100 TB of events is still ≤ a few thousand
    days), and series shorter than two periods are filtered out
    rather than mis-seeded.
    """
    m = 7
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    arr = (
        daily.groupBy("event_type")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(day, cnt))), e -> e.cnt)"
            ).alias("xs")
        )
        .filter(F.size("xs") >= 2 * m)
    )
    seeded = arr.select(
        "event_type",
        "xs",
        F.size("xs").alias("n"),
        F.expr(f"aggregate(slice(xs, 1, {m}), CAST(0.0 AS DOUBLE), (a, x) -> a + x) / {m}.0D").alias(
            "lvl0"
        ),
    ).select(
        "event_type",
        "xs",
        "n",
        "lvl0",
        F.expr(f"transform(slice(xs, 1, {m}), x -> x - lvl0)").alias("seas0"),
    )
    prev_s = f"element_at(acc.seas, size(acc.seas) - {m} + 1)"
    new_level = f"0.3D * (x - {prev_s}) + 0.7D * (acc.level + acc.trend)"
    folded = seeded.select(
        "event_type",
        "n",
        F.expr(
            f"aggregate(slice(xs, {m} + 1, size(xs) - {m}), "
            "struct(CAST(lvl0 AS DOUBLE) AS level, CAST(0.0 AS DOUBLE) AS trend, seas0 AS seas), "
            "(acc, x) -> struct("
            f"{new_level}, "
            f"0.2D * (({new_level}) - acc.level) + 0.8D * acc.trend, "
            f"concat(acc.seas, array(0.4D * (x - ({new_level})) + 0.6D * {prev_s}))"
            "))"
        ).alias("hw"),
    )
    fc = lambda h: F.round(  # noqa: E731
        F.col("hw.level") + h * F.col("hw.trend")
        + F.element_at(F.col("hw.seas"), F.col("n").cast("int") + h - m),
        4,
    ).alias(f"forecast_{h}")
    return folded.select(
        "event_type",
        F.round("hw.level", 4).alias("level"),
        F.round("hw.trend", 4).alias("trend"),
        fc(1),
        fc(2),
        fc(3),
    ).orderBy("event_type")


SCD2_ASOF_ORACLE = """
WITH changes AS (
  SELECT user_id, event_type AS state, ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM (
    SELECT user_id, event_type, ts, event_id,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_state
    FROM events
  )
  WHERE prev_state IS NULL OR prev_state <> event_type
),
probes AS (
  SELECT 'day_10' AS probe_label, MIN(ts) + INTERVAL 10 DAY AS probe_ts FROM events
  UNION ALL
  SELECT 'day_20', MIN(ts) + INTERVAL 20 DAY FROM events
)
SELECT p.probe_label, c.state, COUNT(*) AS n_users
FROM changes c JOIN probes p
  ON c.valid_from <= p.probe_ts
 AND (c.valid_to IS NULL OR c.valid_to > p.probe_ts)
GROUP BY p.probe_label, c.state
ORDER BY p.probe_label, c.state
"""


@query("events_scd2_asof_lookup", oracle=SCD2_ASOF_ORACLE)
def events_scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (bitemporal) lookup over the SCD-type-2
    dimension: reconstruct every user's state AS OF two probe
    instants (10 and 20 days into the window) and roll up the state
    census — the "what did the world look like on date X" query that
    SCD2 exists to answer, and the read side of
    events_scd2_intervals' build.

    The change-row formulation needs NO interval materialization:
    a user's state at probe T is the last change at or before T, so
    the half-open [valid_from, valid_to) containment finds exactly
    one row per user per probe (users with no history yet are
    correctly absent).

    Scale: intervals come from the same single user_id exchange as
    the SCD2 build; the probe set is a broadcast dim (2 rows here,
    thousands in a backfill audit); the containment join fans out at
    most |probes| rows per interval before the tiny state census agg.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select(
            "user_id", "event_type", "ts", "event_id",
            F.lag("event_type").over(w).alias("prev_state"),
        )
        .filter(F.col("prev_state").isNull() | (F.col("prev_state") != F.col("event_type")))
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )
    )
    base = ev.agg(F.min("ts").alias("min_ts"))
    probes = base.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("day_10").alias("probe_label"),
                    F.expr("min_ts + INTERVAL 10 DAYS").alias("probe_ts"),
                ),
                F.struct(
                    F.lit("day_20").alias("probe_label"),
                    F.expr("min_ts + INTERVAL 20 DAYS").alias("probe_ts"),
                ),
            )
        ).alias("p")
    ).select("p.probe_label", "p.probe_ts")
    return (
        changes.join(
            F.broadcast(probes),
            (F.col("valid_from") <= F.col("probe_ts"))
            & (F.col("valid_to").isNull() | (F.col("valid_to") > F.col("probe_ts"))),
        )
        .groupBy("probe_label", "state")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("probe_label", "state")
    )


TRIGRAM_PATHS_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS e1,
         LEAD(event_type, 1) OVER w AS e2,
         LEAD(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
paths AS (
  SELECT e1 || '>' || e2 || '>' || e3 AS path,
         COUNT(*) AS n_paths,
         COUNT(DISTINCT user_id) AS n_users
  FROM seq WHERE e3 IS NOT NULL
  GROUP BY 1
)
SELECT path, n_paths, n_users, CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY n_paths DESC, path) AS rank FROM paths
)
WHERE rank <= 20
ORDER BY rank
"""


@query("events_trigram_paths", oracle=TRIGRAM_PATHS_ORACLE)
def events_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path mining one step beyond the Markov transition matrix:
    top-20 length-3 event paths (A>B>C) with traversal and distinct-
    user counts — the navigation-funnel discovery query (which
    3-step journeys dominate?) that bigram transitions cannot see.

    Scale: two LEADs share one user_id window exchange; paths
    aggregate map-side to the (|event types|^3)-bounded key space and
    the top-20 reduces via WindowGroupLimit/TakeOrderedAndProject.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    paths = seq.groupBy(
        F.concat_ws(">", "e1", "e2", "e3").alias("path")
    ).agg(
        F.count(F.lit(1)).alias("n_paths"),
        F.countDistinct("user_id").alias("n_users"),
    )
    rw = Window.orderBy(F.desc("n_paths"), "path")
    return (
        paths.withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= 20)
        .orderBy("rank")
    )


BACKTEST_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, day, cnt,
         LAG(cnt, 1) OVER w AS naive_fc,
         LAG(cnt, 7) OVER w AS snaive_fc,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day DESC) AS rev
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
bt AS (SELECT * FROM idx WHERE rev <= 14 AND snaive_fc IS NOT NULL)
SELECT event_type,
       COUNT(*) AS n_days,
       CAST(SUM(ABS(cnt - naive_fc)) AS BIGINT)  AS naive_abs_err,
       CAST(SUM(ABS(cnt - snaive_fc)) AS BIGINT) AS snaive_abs_err,
       ROUND(CAST(SUM(ABS(cnt - naive_fc)) AS DOUBLE) / COUNT(*), 4)  AS naive_mae,
       ROUND(CAST(SUM(ABS(cnt - snaive_fc)) AS DOUBLE) / COUNT(*), 4) AS snaive_mae,
       CAST(CASE WHEN SUM(ABS(cnt - snaive_fc)) < SUM(ABS(cnt - naive_fc))
                 THEN 1 ELSE 0 END AS INT) AS seasonal_wins
FROM bt
GROUP BY event_type
ORDER BY event_type
"""


@query("events_forecast_backtest", oracle=BACKTEST_ORACLE)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast BACKTESTING: score naive (yesterday) vs seasonal-naive
    (same weekday last week) forecasts over the last 14 days of daily
    volumes, per event type — the evaluation harness every forecast
    model (events_holt_trend, events_holt_winters_seasonal) must beat
    before anyone trusts it. `seasonal_wins` = does weekly structure
    carry real signal?

    All errors are exact integer count differences; only the display
    MAE divides. One (type, day) aggregation + one window exchange on
    event_type; the backtest frame is days-per-key bounded.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    daily = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    wrev = Window.partitionBy("event_type").orderBy(F.desc("day"))
    idx = daily.select(
        "event_type",
        "cnt",
        F.lag("cnt", 1).over(w).alias("naive_fc"),
        F.lag("cnt", 7).over(w).alias("snaive_fc"),
        F.row_number().over(wrev).alias("rev"),
    ).filter((F.col("rev") <= 14) & F.col("snaive_fc").isNotNull())
    nae = F.sum(F.abs(F.col("cnt") - F.col("naive_fc")))
    sae = F.sum(F.abs(F.col("cnt") - F.col("snaive_fc")))
    return (
        idx.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            nae.cast("long").alias("naive_abs_err"),
            sae.cast("long").alias("snaive_abs_err"),
            F.round(nae.cast("double") / F.count(F.lit(1)), 4).alias("naive_mae"),
            F.round(sae.cast("double") / F.count(F.lit(1)), 4).alias("snaive_mae"),
            (sae < nae).cast("int").alias("seasonal_wins"),
        )
        .orderBy("event_type")
    )


ACTIVE_USERS_ORACLE = """
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
days AS (SELECT DISTINCT day FROM ud),
dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
wau AS (
  SELECT d.day, COUNT(DISTINCT u.user_id) AS wau
  FROM days d JOIN ud u ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
  GROUP BY d.day
),
mau AS (
  SELECT d.day, COUNT(DISTINCT u.user_id) AS mau
  FROM days d JOIN ud u ON u.day BETWEEN d.day - INTERVAL 29 DAY AND d.day
  GROUP BY d.day
)
SELECT STRFTIME(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau, mau.mau,
       ROUND(CAST(dau.dau AS DOUBLE) / mau.mau, 4) AS stickiness
FROM dau JOIN wau ON wau.day = dau.day JOIN mau ON mau.day = dau.day
ORDER BY day
"""


@query("events_active_users_rolling", oracle=ACTIVE_USERS_ORACLE)
def events_active_users_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU + stickiness (DAU/MAU) per day — THE product
    health dashboard. Rolling DISTINCT counts are not windowable
    (COUNT(DISTINCT) OVER RANGE doesn't exist in any engine), so each
    (user, active day) pair is EXPLODED onto the next 7 / 30 calendar
    days it keeps the user "active" for, and the rolling distinct
    becomes a plain per-day distinct count — a bounded ×30 fan-out of
    the (user, day) grain, not of raw events.

    Scale: events first collapse to (user, day) — the fan-out applies
    to that much smaller grain — and ONE x30 coverage explode feeds
    all three windows as conditional distinct aggregations on a
    single shuffle (the x7 coverage is a subset of the x30). Day
    coverage trims to observed days so partial leading windows match
    the oracle's BETWEEN join exactly.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    ud = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    days = ud.select("day").distinct()
    # ONE x30 coverage explode serves all three windows: a covered day
    # within 7 days of its origin also counts for WAU, and distance 0
    # is DAU — three conditional countDistincts on one shuffle instead
    # of separate x7/x30 explode passes.
    covered = ud.select(
        "user_id",
        F.col("day").alias("origin"),
        F.explode(F.expr("sequence(day, date_add(day, 29))")).alias("day"),
    ).join(days, "day")  # only observed days (oracle parity)
    dist = F.datediff(F.col("day"), F.col("origin"))
    rolled = covered.groupBy("day").agg(
        F.countDistinct(F.when(dist == 0, F.col("user_id"))).alias("dau"),
        F.countDistinct(F.when(dist < 7, F.col("user_id"))).alias("wau"),
        F.countDistinct("user_id").alias("mau"),
    )
    return rolled.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "dau",
        "wau",
        "mau",
        F.round(F.col("dau").cast("double") / F.col("mau"), 4).alias("stickiness"),
    ).orderBy("day")


LTV_CURVE_ORACLE = """
WITH first_seen AS (
  SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
),
rev AS (
  SELECT f.cohort_week,
         CAST(DATE_DIFF('day', f.cohort_week, DATE_TRUNC('week', e.ts)) // 7 AS INT)
           AS week_offset,
         SUM(CAST(e.value AS DECIMAL(27,6))) AS wk_rev
  FROM events e JOIN first_seen f ON f.user_id = e.user_id
  WHERE e.event_type = 'purchase'
  GROUP BY 1, 2
)
SELECT STRFTIME(cohort_week, '%Y-%m-%d') AS cohort_week, week_offset,
       CAST(ROUND(wk_rev, 2) AS DOUBLE) AS week_revenue,
       CAST(ROUND(SUM(wk_rev) OVER (PARTITION BY cohort_week ORDER BY week_offset
                                    ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE)
         AS cumulative_revenue
FROM rev
ORDER BY cohort_week, week_offset
"""


@query("events_cohort_ltv_curve", oracle=LTV_CURVE_ORACLE)
def events_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LIFETIME-VALUE curves: purchase revenue per signup-week
    cohort by weeks-since-signup, with the running cumulative — the
    money-weighted counterpart of events_retention_cohorts' count
    triangle (does week-0 acquisition quality predict week-N spend?).

    Determinism: revenue sums in DECIMAL(27,6); the cumulative runs
    over the rounded-late exact partials and only becomes a double at
    display. Scale: one user-grain first-seen aggregate broadcast
    against the purchase scan, a (cohort, offset)-grain decimal agg,
    and a window over the cohort-weeks grid (dozens of rows per
    cohort, however large the event stream).
    """
    from taps_spark.queries.numeric import DECIMAL_T

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(first_seen), "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week")) / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.sum(F.col("value").cast(DECIMAL_T)).alias("wk_rev"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return rev.select(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
        F.round("wk_rev", 2).cast("double").alias("week_revenue"),
        F.round(F.sum("wk_rev").over(w), 2).cast("double").alias("cumulative_revenue"),
    ).orderBy("cohort_week", "week_offset")


AUTOCORR_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1
),
lags AS (SELECT CAST(UNNEST(range(1, 8)) AS INT) AS lag),
p AS (
  SELECT l.lag, a.y AS x, b.y AS y2
  FROM lags l
  CROSS JOIN daily a
  JOIN daily b ON b.d = a.d + l.lag
),
agg AS (
  SELECT lag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT)   AS sx,
         CAST(SUM(y2) AS BIGINT)  AS sy,
         CAST(SUM(x * y2) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT)  AS sxx,
         CAST(SUM(y2 * y2) AS BIGINT) AS syy
  FROM p GROUP BY lag
)
SELECT lag, n AS n_pairs,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS acf
FROM agg
ORDER BY lag
"""


@query("events_autocorrelation", oracle=AUTOCORR_ORACLE)
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily event-count series at
    lags 1..7 — the seasonality detector that decides whether
    events_holt_winters_seasonal's weekly period is real: a lag-7
    spike means weekly structure, a flat ACF means the forecast
    should drop the seasonal term.

    EXACT cross-engine: daily counts are integers, so every Pearson
    ingredient (n, Σx, Σy, Σxy, Σx², Σy²) is an exact BIGINT and the
    single floating division matches bit-for-bit.

    Scale: the corpus collapses to one row per day FIRST (map-side
    combined), so the lag self-join runs on #days rows — kilobytes at
    any corpus size; 7 lags explode the small side only.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("y")
    )
    a = daily.select(
        F.col("d").alias("ad"),
        F.col("y").alias("x"),
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("lag"),
    )
    p = a.join(
        daily.select(F.col("d").alias("bd"), F.col("y").alias("y2")),
        F.expr("bd = date_add(ad, lag)"),
    )
    agg = p.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y2").alias("sy"),
        F.sum(F.col("x") * F.col("y2")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y2") * F.col("y2")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den1 = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    den2 = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return agg.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").alias("n_pairs"),
        F.round(
            num.cast("double") / F.sqrt(den1.cast("double") * den2.cast("double")), 6
        ).alias("acf"),
    ).orderBy("lag")


INTERARRIVAL_ORACLE = """
WITH o AS (
  SELECT event_type,
         epoch_us(ts) AS t,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nt
  FROM events
),
g AS (
  SELECT event_type, nt - t AS gap FROM o WHERE nt IS NOT NULL
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(MIN(gap) AS BIGINT) AS min_gap_us,
       CAST(MAX(gap) AS BIGINT) AS max_gap_us,
       CAST(FLOOR(CAST(SUM(gap) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
         AS avg_gap_us
FROM g
GROUP BY event_type
ORDER BY event_type
"""


@query("events_interarrival_stats", oracle=INTERARRIVAL_ORACLE)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time distribution per event type: the
    microsecond gap from each event to its user's NEXT event,
    aggregated by the earlier event's type — the dial capacity
    planning and session-timeout tuning read (a session gap threshold
    should sit far above typical same-user inter-arrival).

    Scale: the same single per-user window sort as the sessionizer,
    then an event-type-grain agg (map-side combined to |types| rows).

    Determinism: gaps are exact integer microseconds
    (operators/events unix_micros pattern); SUM is an exact BIGINT
    and the mean folds from it with FLOOR(x + 0.5).
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = (
        ev.select(
            "event_type",
            micros.alias("t"),
            F.lead(micros).over(w).alias("nt"),
        )
        .filter(F.col("nt").isNotNull())
        .select("event_type", (F.col("nt") - F.col("t")).alias("gap"))
    )
    return (
        g.groupBy("event_type")
        .agg(
            F.count("*").alias("n_gaps"),
            F.min("gap").cast("long").alias("min_gap_us"),
            F.max("gap").cast("long").alias("max_gap_us"),
            F.floor(
                F.sum("gap").cast("double") / F.count("*") + F.lit(0.5)
            )
            .cast("long")
            .alias("avg_gap_us"),
        )
        .orderBy("event_type")
    )


VALUE_HISTOGRAM_ORACLE = """
WITH b AS (
  SELECT event_type,
         LEAST(9, CAST(FLOOR(value / 35) AS INT)) AS bucket,
         CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS v_micros
  FROM events
)
SELECT event_type, bucket,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(v_micros) AS BIGINT) AS sum_value_micros
FROM b
GROUP BY event_type, bucket
ORDER BY event_type, bucket
"""


@query("events_value_histogram", oracle=VALUE_HISTOGRAM_ORACLE)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type (10 bins of width
    35, top bin open-ended): the one-pass distribution profile a
    monitoring dashboard draws — equal-width binning is the
    shuffle-free histogram (bin id is a map-side expression, unlike
    quantile binning which needs a sort or a sketch).

    Scale: map-only bin assignment, one agg at (type x bin) grain —
    at most 50 groups survive the map-side combine regardless of
    input size.

    Determinism: bin ids are FLOOR of an exact division of
    bit-identical doubles; per-row micros quantization then exact
    BIGINT sums.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    bucket = F.least(F.lit(9), F.floor(F.col("value") / 35).cast("int"))
    vmicros = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
    return (
        ev.select("event_type", bucket.alias("bucket"), vmicros.alias("v"))
        .groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("v").cast("long").alias("sum_value_micros"),
        )
        .orderBy("event_type", "bucket")
    )


PARETO_ORACLE = """
WITH uc AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY user_id
),
r AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, user_id) AS rnk,
         SUM(c) OVER (ORDER BY c DESC, user_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM uc
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users, CAST(SUM(c) AS BIGINT) AS n_events
  FROM uc
),
ps AS (SELECT unnest([1, 5, 10]) AS pct)
SELECT CAST(ps.pct AS INT) AS top_pct,
       GREATEST(1, CAST(FLOOR(t.n_users * ps.pct / 100.0) AS BIGINT)) AS k_users,
       t.n_users, t.n_events,
       CAST(MAX(CASE WHEN r.rnk <= GREATEST(1, CAST(FLOOR(t.n_users * ps.pct / 100.0) AS BIGINT))
                     THEN r.cum ELSE 0 END) AS BIGINT) AS events_covered,
       CAST(FLOOR((CAST(MAX(CASE WHEN r.rnk <= GREATEST(1, CAST(FLOOR(t.n_users * ps.pct / 100.0) AS BIGINT))
                                 THEN r.cum ELSE 0 END) AS DOUBLE) / t.n_events)
                  * 1000000 + 0.5) AS BIGINT) AS coverage_ppm
FROM r CROSS JOIN tot t CROSS JOIN ps
GROUP BY ps.pct, t.n_users, t.n_events
ORDER BY top_pct
"""


@query("events_power_users_pareto", oracle=PARETO_ORACLE)
def events_power_users_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration of activity: what share of all events do
    the top 1% / 5% / 10% most-active users generate — the skew
    audit that decides whether per-user processing needs salting and
    whether a per-user quota would even matter.

    Scale: the heavy lifting is ONE user-grain count (map-side
    combined); the ranking window then runs over |users| rows, not
    events — acceptable to |users| ~ 1e9 with a range-partitioned
    sort; output is 3 rows.

    Determinism: unique-key ranking (count desc, user_id), exact
    cumulative integer sums, one ppm fold.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    uc = ev.groupBy("user_id").agg(F.count("*").alias("c"))
    w = Window.orderBy(F.col("c").desc(), F.col("user_id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = uc.select(
        "c",
        F.row_number().over(Window.orderBy(F.col("c").desc(), F.col("user_id"))).alias("rnk"),
        F.sum("c").over(w).alias("cum"),
    )
    tot = uc.agg(
        F.count("*").alias("n_users"), F.sum("c").cast("long").alias("n_events")
    )
    ps = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(5), F.lit(10))).alias("pct")
    )
    k = F.greatest(
        F.lit(1).cast("long"),
        F.floor(F.col("n_users") * F.col("pct") / 100.0).cast("long"),
    )
    j = r.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(ps)).withColumn("k", k)
    return (
        j.groupBy("pct", "n_users", "n_events", "k")
        .agg(
            F.max(F.when(F.col("rnk") <= F.col("k"), F.col("cum")).otherwise(0))
            .cast("long")
            .alias("events_covered")
        )
        .select(
            F.col("pct").cast("int").alias("top_pct"),
            F.col("k").alias("k_users"),
            "n_users",
            "n_events",
            "events_covered",
            F.floor(
                (F.col("events_covered").cast("double") / F.col("n_events")) * 1000000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("coverage_ppm"),
        )
        .orderBy("top_pct")
    )


TIME_TO_CONVERT_ORACLE = """
WITH s AS (
  SELECT user_id, MIN(epoch_us(ts)) AS s_us
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
p AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_us
  FROM events e JOIN s ON s.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s.s_us
  GROUP BY e.user_id
),
d AS (
  SELECT s.user_id, p.p_us - s.s_us AS delta
  FROM s JOIN p ON p.user_id = s.user_id
),
r AS (
  SELECT delta, ROW_NUMBER() OVER (ORDER BY delta, user_id) AS rnk FROM d
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
         CAST(MIN(delta) AS BIGINT) AS min_us,
         CAST(MAX(delta) AS BIGINT) AS max_us,
         CAST(FLOOR(CAST(SUM(delta) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS avg_us
  FROM d
),
med AS (
  SELECT CAST(r.delta AS BIGINT) AS median_lo_us
  FROM r, stats
  WHERE r.rnk = CAST(FLOOR((stats.n_converted + 1) / 2.0) AS BIGINT)
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s) AS n_signup_users,
       n_converted, min_us, max_us, avg_us, median_lo_us
FROM stats CROSS JOIN med
"""


@query("events_time_to_convert", oracle=TIME_TO_CONVERT_ORACLE)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase conversion latency: for every user, the
    microsecond gap between their FIRST signup and their first
    purchase at-or-after it, summarized as min/avg/max plus the
    deterministic lower median — the growth-funnel latency number,
    computed without interpolation so it cross-checks exactly.

    Scale: two user-grain aggs sharing one user_id exchange, a
    user-grain join, and a ranking window over CONVERTED users only.

    Determinism: gaps are exact integer micros; the mean folds from
    an exact BIGINT sum; the median is the rank-⌊(n+1)/2⌋ ORDER
    STATISTIC (delta, user_id tiebreak), not an interpolated
    quantile, so no float ever appears.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(micros).alias("s_us"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", micros.alias("t"))
        .join(s, "user_id")
        .filter(F.col("t") >= F.col("s_us"))
        .groupBy("user_id")
        .agg(F.min("t").alias("p_us"))
    )
    d = s.join(p, "user_id").select(
        "user_id", (F.col("p_us") - F.col("s_us")).alias("delta")
    )
    r = d.select(
        "delta",
        F.row_number().over(Window.orderBy("delta", "user_id")).alias("rnk"),
    )
    nsign = s.agg(F.count("*").alias("n_signup_users"))
    stats = d.agg(
        F.count("*").alias("n_converted"),
        F.min("delta").cast("long").alias("min_us"),
        F.max("delta").cast("long").alias("max_us"),
        F.floor(F.sum("delta").cast("double") / F.count("*") + F.lit(0.5))
        .cast("long")
        .alias("avg_us"),
    )
    med = (
        r.crossJoin(F.broadcast(stats.select("n_converted")))
        .filter(F.col("rnk") == F.floor((F.col("n_converted") + 1) / 2.0))
        .select(F.col("delta").cast("long").alias("median_lo_us"))
    )
    return nsign.crossJoin(stats).crossJoin(med).select(
        "n_signup_users",
        "n_converted",
        "min_us",
        "max_us",
        "avg_us",
        "median_lo_us",
    )


BURST_ORACLE = """
WITH d AS (
  SELECT event_type, STRFTIME(ts, '%Y-%m-%d') AS day, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, STRFTIME(ts, '%Y-%m-%d')
),
w AS (
  SELECT event_type, day, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS prev7,
         COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n_prev
  FROM d
)
SELECT event_type, day, c AS n_events, CAST(prev7 AS BIGINT) AS prev7_events
FROM w
WHERE n_prev = 7 AND c * 7 > 2 * prev7
ORDER BY event_type, day
"""


@query("events_burst_days", oracle=BURST_ORACLE)
def events_burst_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection on daily event volume: flag (type, day) cells
    whose count exceeds 2x the trailing-7-day average — the
    incident/virality detector every event pipeline runs, kept exact
    by comparing c*7 > 2*sum_prev7 in INTEGERS instead of dividing.

    Scale: one (type, day)-grain count (map-side combined), one
    window per type over day-grain rows — thousands of rows per year
    regardless of event volume.

    Determinism: integer counts and an integer cross-multiplied
    threshold; day strings via date_format (UTC on both engines).
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    d = ev.groupBy(
        "event_type",
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd").alias("day"),
    ).agg(F.count("*").alias("c"))
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    b = d.select(
        "event_type",
        "day",
        "c",
        F.sum("c").over(w).alias("prev7"),
        F.count("*").over(w).alias("n_prev"),
    )
    return (
        b.filter((F.col("n_prev") == 7) & (F.col("c") * 7 > 2 * F.col("prev7")))
        .select(
            "event_type",
            "day",
            F.col("c").alias("n_events"),
            F.col("prev7").cast("long").alias("prev7_events"),
        )
        .orderBy("event_type", "day")
    )


SESSION_LENGTH_HIST_ORACLE = """
WITH lagged AS (
  SELECT user_id, event_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM lagged
),
sess AS (
  SELECT user_id, ts,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
  FROM flagged
),
per AS (
  SELECT user_id, session_id,
         epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM sess GROUP BY user_id, session_id
)
SELECT LEAST(5, CAST(dur_us // 600000000 AS INT)) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS total_events,
       CAST(MAX(dur_us) AS BIGINT) AS max_dur_us
FROM per
GROUP BY LEAST(5, CAST(dur_us // 600000000 AS INT))
ORDER BY bucket
"""


@query("events_session_length_histogram", oracle=SESSION_LENGTH_HIST_ORACLE)
def events_session_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-duration histogram (10-minute buckets, top bucket
    open): the one-glance shape check on the sessionizer's output —
    a fat bucket 0 means bursty single-hit traffic, mass in the open
    bucket means the inactivity gap is set too wide.

    Scale: rides the proven gaps-and-islands spine (one user_id
    exchange shared by the lag and the session rollup), then a
    6-group aggregate — map-side combined, output constant-size.

    Determinism: exact integer microsecond durations; integer floor
    bucketing; counts only.
    """
    from taps_spark.operators.events import sessionize

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    s = sessionize(ev, "user_id", "ts", "event_id", 30)
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    per = s.groupBy("user_id", "session_id").agg(
        (F.max(micros) - F.min(micros)).alias("dur_us"),
        F.count("*").alias("n_events"),
    )
    bucket = F.least(F.lit(5), F.expr("CAST(dur_us div 600000000 AS INT)"))
    return (
        per.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("total_events"),
            F.max("dur_us").cast("long").alias("max_dur_us"),
        )
        .orderBy("bucket")
    )


TYPE_SHARE_DRIFT_ORACLE = """
WITH d AS (
  SELECT event_type, STRFTIME(ts, '%Y-%m-%d') AS day, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, STRFTIME(ts, '%Y-%m-%d')
),
n AS (SELECT day, CAST(SUM(c) AS BIGINT) AS nd FROM d GROUP BY day),
j AS (
  SELECT d.event_type, d.day, d.c, n.nd,
         LAG(d.c)  OVER (PARTITION BY d.event_type ORDER BY d.day) AS pc,
         LAG(n.nd) OVER (PARTITION BY d.event_type ORDER BY d.day) AS pn
  FROM d JOIN n USING (day)
),
delta AS (
  SELECT event_type,
         CAST(FLOOR((CAST(ABS(c * pn - pc * nd) AS DOUBLE) / (nd * pn))
                    * 1000000 + 0.5) AS BIGINT) AS delta_ppm
  FROM j WHERE pc IS NOT NULL
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_day_pairs,
       CAST(MAX(delta_ppm) AS BIGINT) AS max_drift_ppm,
       CAST(FLOOR(CAST(SUM(delta_ppm) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
         AS avg_drift_ppm
FROM delta
GROUP BY event_type
ORDER BY event_type
"""


@query("events_type_share_drift", oracle=TYPE_SHARE_DRIFT_ORACLE)
def events_type_share_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day drift of each event type's traffic share — the
    schema-free distribution monitor that catches a logging change or
    a bot flood as a share step, even when total volume looks normal.
    The share delta |c_d/n_d − c_{d-1}/n_{d-1}| is computed by integer
    cross-multiplication before ONE ppm fold, so no float ratio chain
    ever forms.

    Scale: (type, day)-grain counts (map-side combined), a day-grain
    total broadcast back, one lag window per type over day-grain rows.

    Determinism: exact integer counts and cross-products; folded ppm
    integers aggregate by MAX and an exact-sum mean.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    d = ev.groupBy(
        "event_type",
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd").alias("day"),
    ).agg(F.count("*").alias("c"))
    n = d.groupBy("day").agg(F.sum("c").alias("nd"))
    w = Window.partitionBy("event_type").orderBy("day")
    j = (
        d.join(F.broadcast(n), "day")
        .withColumn("pc", F.lag("c").over(w))
        .withColumn("pn", F.lag("nd").over(w))
        .filter(F.col("pc").isNotNull())
    )
    delta = j.select(
        "event_type",
        F.floor(
            (
                F.abs(F.col("c") * F.col("pn") - F.col("pc") * F.col("nd")).cast("double")
                / (F.col("nd") * F.col("pn"))
            )
            * 1000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("delta_ppm"),
    )
    return (
        delta.groupBy("event_type")
        .agg(
            F.count("*").alias("n_day_pairs"),
            F.max("delta_ppm").alias("max_drift_ppm"),
            F.floor(F.sum("delta_ppm").cast("double") / F.count("*") + F.lit(0.5))
            .cast("long")
            .alias("avg_drift_ppm"),
        )
        .orderBy("event_type")
    )


IQR_OUTLIER_ORACLE = """
WITH v AS (
  SELECT event_type, event_id,
         CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS vm
  FROM events
),
r AS (
  SELECT event_type, vm,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY vm, event_id) AS rnk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM v
),
q AS (
  SELECT event_type,
         MAX(CASE WHEN rnk = CAST(CEIL(n * 0.25) AS BIGINT) THEN vm END) AS q1,
         MAX(CASE WHEN rnk = CAST(CEIL(n * 0.75) AS BIGINT) THEN vm END) AS q3
  FROM r GROUP BY event_type
)
SELECT v.event_type,
       CAST(q.q1 AS BIGINT) AS q1_micros,
       CAST(q.q3 AS BIGINT) AS q3_micros,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN v.vm * 2 > q.q3 * 2 + 3 * (q.q3 - q.q1)
                       OR v.vm * 2 < q.q1 * 2 - 3 * (q.q3 - q.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM v JOIN q ON q.event_type = v.event_type
GROUP BY v.event_type, q.q1, q.q3
ORDER BY v.event_type
"""


@query("events_anomaly_iqr", oracle=IQR_OUTLIER_ORACLE)
def events_anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier census per event type with RANK-STATISTIC
    quartiles (value at rank ⌈0.25n⌉ / ⌈0.75n⌉, event_id tiebreak)
    and the 1.5-IQR fences applied by integer cross-multiplication
    (v·2 > q3·2 + 3·IQR) — the robust outlier counter that, unlike
    the z-score variant, a single extreme value cannot poison, and
    unlike interpolated quartiles, reproduces bit-for-bit anywhere.

    Scale: one window per event type over micro-quantized values,
    quartiles broadcast back (|types| rows), fences applied at scan
    speed.

    Determinism: integer micros, rank statistics, integer fences —
    no float appears anywhere.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    v = ev.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long").alias("vm"),
    )
    w = Window.partitionBy("event_type").orderBy("vm", "event_id")
    r = v.select(
        "event_type",
        "vm",
        F.row_number().over(w).alias("rnk"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    q = r.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rnk") == F.ceil(F.col("n") * 0.25), F.col("vm"))
        ).alias("q1"),
        F.max(
            F.when(F.col("rnk") == F.ceil(F.col("n") * 0.75), F.col("vm"))
        ).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    out = (F.col("vm") * 2 > F.col("q3") * 2 + 3 * iqr) | (
        F.col("vm") * 2 < F.col("q1") * 2 - 3 * iqr
    )
    return (
        v.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(out, 1).otherwise(0)).cast("long").alias("n_outliers"),
        )
        .select(
            "event_type",
            F.col("q1").cast("long").alias("q1_micros"),
            F.col("q3").cast("long").alias("q3_micros"),
            "n_events",
            "n_outliers",
        )
        .orderBy("event_type")
    )


WEEKLY_HEATMAP_ORACLE = """
WITH cell AS (
  SELECT CAST(isodow(ts) AS INT) AS iso_dow,
         CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events
  GROUP BY 1, 2
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cell)
SELECT iso_dow, hour, n AS n_events,
       CAST(FLOOR((CAST(n AS DOUBLE) / t.total) * 1000000 + 0.5) AS BIGINT)
         AS share_ppm
FROM cell CROSS JOIN tot t
ORDER BY iso_dow, hour
"""


@query("events_weekly_heatmap", oracle=WEEKLY_HEATMAP_ORACLE)
def events_weekly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly activity heatmap: event counts and corpus share per
    (ISO weekday, UTC hour) cell — the capacity-planning grid every
    traffic dashboard draws, and the input to any "run the batch job
    in the quiet cells" scheduler.

    Scale: one map-only cell assignment + a 168-group aggregate.

    Determinism: ISO weekday on both engines (Spark weekday()+1 ==
    DuckDB isodow), UTC hours, exact counts, one ppm fold.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    ts = F.col("ts").cast("timestamp")
    cell = ev.groupBy(
        (F.weekday(ts) + 1).cast("int").alias("iso_dow"),
        F.hour(ts).cast("int").alias("hour"),
    ).agg(F.count("*").alias("n"))
    tot = cell.agg(F.sum("n").alias("total"))
    return (
        cell.crossJoin(F.broadcast(tot))
        .select(
            "iso_dow",
            "hour",
            F.col("n").alias("n_events"),
            F.floor(
                (F.col("n").cast("double") / F.col("total")) * 1000000 + F.lit(0.5)
            )
            .cast("long")
            .alias("share_ppm"),
        )
        .orderBy("iso_dow", "hour")
    )


STREAKS_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INT) AS day
  FROM events
),
isl AS (
  SELECT user_id, day,
         day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM days
),
runs AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS run_len
  FROM isl GROUP BY user_id, grp
)
SELECT user_id,
       CAST(MAX(run_len) AS BIGINT) AS longest_streak,
       CAST(SUM(run_len) AS BIGINT) AS n_active_days,
       CAST(COUNT(*) AS BIGINT) AS n_streaks
FROM runs
GROUP BY user_id
ORDER BY user_id
"""


@query("events_streaks_longest", oracle=STREAKS_ORACLE)
def events_streaks_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user (plus total
    active days and streak count) — classic gaps-and-islands at the
    user grain, the engagement metric behind retention ladders and
    streak-based features.

    Scale: distinct (user, day) first (the only corpus-grain shuffle,
    at day grain ≪ event grain), then windows and rollups at the
    user-day and user grain.

    Determinism: integer epoch days; distinct days make the
    row_number island id tie-free.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    days = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("day"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    runs = (
        days.withColumn("grp", F.col("day") - F.row_number().over(w))
        .groupBy("user_id", "grp")
        .agg(F.count("*").alias("run_len"))
    )
    return (
        runs.groupBy("user_id")
        .agg(
            F.max("run_len").cast("long").alias("longest_streak"),
            F.sum("run_len").cast("long").alias("n_active_days"),
            F.count("*").alias("n_streaks"),
        )
        .orderBy("user_id")
    )


WATERMARK_LATENESS_ORACLE = """
WITH arr AS (
  SELECT event_id, epoch_us(ts) AS us,
         MAX(epoch_us(ts)) OVER (
           ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS wm_us
  FROM events
),
lateness AS (
  SELECT CASE
           WHEN wm_us IS NULL OR us >= wm_us THEN 0
           ELSE wm_us - us
         END AS late_us
  FROM arr
),
tiered AS (
  SELECT CASE
           WHEN late_us = 0 THEN 'on_time'
           WHEN late_us <= 60000000 THEN 'late_1m'
           WHEN late_us <= 600000000 THEN 'late_10m'
           WHEN late_us <= 3600000000 THEN 'late_1h'
           ELSE 'late_over_1h'
         END AS tier,
         late_us
  FROM lateness
)
SELECT tier,
       COUNT(*)::BIGINT AS n_events,
       MAX(late_us)::BIGINT AS max_late_us,
       (SUM(late_us)::HUGEINT * 1000000
          // (SELECT COUNT(*) FROM events))::BIGINT AS sum_late_us_per_million_events
FROM tiered
GROUP BY tier
ORDER BY tier
"""


@query("events_watermark_lateness_audit", oracle=WATERMARK_LATENESS_ORACLE)
def events_watermark_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-lateness audit: how late do events arrive relative to
    the high-water mark of everything already ingested? This is THE
    input for sizing `withWatermark` on every streaming job in
    streaming/jobs.py — pick the allowed-lateness tier that bounds the
    share of events you may drop. The reference streams strictly in
    key order (lib/taps/data_stream.rb fetch loop) so lateness cannot
    exist there; an event pipeline must measure it.

    Arrival order: event_id is the ingest sequence (unique, assigned
    in generation order — FIXTURES.md). The running high-water mark is
    max(ts) over the STRICT past in arrival order (unbounded preceding
    to 1 preceding — a new maximum is on-time by definition), a total
    order because event_id is unique (guard-checked). Lateness is
    microsecond-exact integer arithmetic (unix_micros / epoch_us — the
    engine-shared idiom), tiered at 1m/10m/1h.

    Scale: ONE global-order window is the honest cost of an
    arrival-order audit — at 100 TB you run it per ingest shard
    (arrival order is only defined within a shard anyway) by adding
    the shard key to partitionBy; here the fixture is one shard. All
    outputs exact integers; the per-million normalization uses integer
    division of exact sums.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.orderBy("event_id").rowsBetween(Window.unboundedPreceding, -1)
    arr = ev.select(
        us.alias("us"), F.max(us).over(w).alias("wm_us")
    )
    late = arr.select(
        F.when(
            F.col("wm_us").isNull() | (F.col("us") >= F.col("wm_us")), F.lit(0)
        )
        .otherwise(F.col("wm_us") - F.col("us"))
        .cast("long")
        .alias("late_us")
    )
    tiered = late.select(
        F.when(F.col("late_us") == 0, "on_time")
        .when(F.col("late_us") <= 60_000_000, "late_1m")
        .when(F.col("late_us") <= 600_000_000, "late_10m")
        .when(F.col("late_us") <= 3_600_000_000, "late_1h")
        .otherwise("late_over_1h")
        .alias("tier"),
        "late_us",
    )
    n_total = ev.groupBy().agg(F.count("*").alias("n_total"))
    return (
        tiered.groupBy("tier")
        .agg(
            F.count("*").alias("n_events"),
            F.max("late_us").cast("long").alias("max_late_us"),
            F.sum(F.col("late_us").cast("decimal(38,0)")).alias("_sum_late"),
        )
        .crossJoin(F.broadcast(n_total))
        .select(
            "tier",
            "n_events",
            "max_late_us",
            F.expr(
                "CAST((_sum_late * CAST(1000000 AS DECIMAL(38,0)))"
                " div n_total AS BIGINT)"
            ).alias("sum_late_us_per_million_events"),
        )
        .orderBy("tier")
    )


KAPLAN_MEIER_ORACLE = """
WITH s AS (
  SELECT user_id, MIN(epoch_us(ts)) AS s_us
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
p AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_us
  FROM events e JOIN s ON s.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s.s_us
  GROUP BY e.user_id
),
lastobs AS (
  SELECT e.user_id, MAX(epoch_us(e.ts)) AS l_us
  FROM events e JOIN s ON s.user_id = e.user_id
  GROUP BY e.user_id
),
times AS (
  SELECT s.user_id,
         CASE WHEN p.p_us IS NOT NULL
              THEN (p.p_us - s.s_us) // 86400000000
              ELSE (lastobs.l_us - s.s_us) // 86400000000 END AS day,
         CASE WHEN p.p_us IS NOT NULL THEN 1 ELSE 0 END AS is_event
  FROM s
  JOIN lastobs ON lastobs.user_id = s.user_id
  LEFT JOIN p ON p.user_id = s.user_id
),
lt AS (
  SELECT day, CAST(SUM(is_event) AS BIGINT) AS d,
         CAST(SUM(1 - is_event) AS BIGINT) AS c
  FROM times GROUP BY day
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM times),
risk AS (
  SELECT lt.day, lt.d, lt.c,
         tot.n - SUM(lt.d + lt.c) OVER (ORDER BY lt.day) + (lt.d + lt.c)
           AS n_risk
  FROM lt, tot
),
terms AS (
  SELECT day, d, c, n_risk,
         CASE WHEN n_risk > d THEN
           CAST(FLOOR(-(LOG10(CAST(n_risk - d AS DOUBLE)
                              / CAST(n_risk AS DOUBLE)))
                      * 1000000000 + 0.5) AS DECIMAL(38,0))
         END AS q
  FROM risk WHERE d > 0
)
SELECT CAST(day AS BIGINT) AS day, CAST(n_risk AS BIGINT) AS n_risk,
       d AS n_events, c AS n_censored,
       CASE WHEN n_risk = d THEN NULL ELSE
         CAST(FLOOR((CAST(SUM(q) OVER (ORDER BY day) AS DOUBLE) / 1000000000)
                    * 1000000 + 0.5) AS BIGINT)
       END AS neg_log10_survival_micro
FROM terms
ORDER BY day
"""


@query("events_kaplan_meier", oracle=KAPLAN_MEIER_ORACLE)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival life table for signup→purchase
    conversion with RIGHT-CENSORING: users who never purchase are
    censored at their last observed event instead of silently
    dropped — the estimator events_time_to_convert cannot give you,
    and the standard churn/retention curve (S(t) = Π(1 − dᵢ/nᵢ)).

    The curve is emitted in exact log space
    (−log10 S(t) as integer micros): per-day terms −log10((n−d)/n)
    are identical IEEE chains on integer-count doubles,
    nano-quantized, and the CUMULATIVE sum runs over the day-grain
    total order in DECIMAL(38,0) — no 10^x (libm pow) on either
    engine, so no one-ulp boundary flips. Survival in [0,1] is
    10^(−x/10⁶) for a consumer that wants it.

    Scale: three user-grain aggregations sharing one user_id
    exchange, then everything collapses to DAY grain — the life
    table is bounded by the observation window (hundreds of rows),
    so the unpartitioned cumulative windows run on a
    calendar-bounded frame, never corpus-grain (the hypertable
    rollup law).
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(us).alias("s_us"))
    )
    p = (
        ev.join(s, "user_id")
        .filter((F.col("event_type") == "purchase") & (us >= F.col("s_us")))
        .groupBy("user_id")
        .agg(F.min(us).alias("p_us"))
    )
    lastobs = ev.join(s.select("user_id"), "user_id").groupBy("user_id").agg(
        F.max(us).alias("l_us")
    )
    times = (
        s.join(lastobs, "user_id")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.when(
                F.col("p_us").isNotNull(),
                F.expr("(p_us - s_us) div 86400000000"),
            )
            .otherwise(F.expr("(l_us - s_us) div 86400000000"))
            .alias("day"),
            F.col("p_us").isNotNull().cast("int").alias("is_event"),
        )
    )
    lt = times.groupBy("day").agg(
        F.sum("is_event").alias("d"),
        F.sum(F.lit(1) - F.col("is_event")).alias("c"),
    )
    tot = times.agg(F.count(F.lit(1)).alias("n"))
    wday = Window.orderBy("day")
    risk = lt.crossJoin(F.broadcast(tot)).select(
        "day", "d", "c",
        (
            F.col("n")
            - F.sum(F.col("d") + F.col("c")).over(wday)
            + (F.col("d") + F.col("c"))
        ).alias("n_risk"),
    )
    # A day where the whole remaining risk set exits as events drives
    # S(t) to exactly 0 — that is -inf in log space, so the terminal
    # row (necessarily the LAST day) carries NULL instead of a term.
    terms = risk.filter(F.col("d") > 0).select(
        "day", "d", "c", "n_risk",
        F.when(
            F.col("n_risk") > F.col("d"),
            F.floor(
                -(
                    F.log10(
                        (F.col("n_risk") - F.col("d")).cast("double")
                        / F.col("n_risk").cast("double")
                    )
                )
                * 1000000000
                + F.lit(0.5)
            ).cast("decimal(38,0)"),
        ).alias("q"),
    )
    return terms.select(
        F.col("day").cast("long").alias("day"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        F.when(
            F.col("n_risk") == F.col("d"), F.lit(None).cast("long")
        ).otherwise(
            F.floor(
                (F.sum("q").over(wday).cast("double") / 1000000000) * 1000000
                + F.lit(0.5)
            ).cast("long")
        ).alias("neg_log10_survival_micro"),
    ).orderBy("day")


PEAK_CONCURRENCY_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 30*60*1000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sid AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
  FROM ordered
),
sess AS (
  SELECT user_id, session_id,
         MIN(epoch_us(ts)) // 60000000 AS m0,
         MAX(epoch_us(ts)) // 60000000 AS m1
  FROM sid GROUP BY 1, 2
),
bounds AS (
  SELECT m0 AS minute, 1 AS starts, 0 AS ends FROM sess
  UNION ALL
  SELECT m1, 0, 1 FROM sess
),
mg AS (
  SELECT minute, CAST(SUM(starts) AS BIGINT) AS s, CAST(SUM(ends) AS BIGINT) AS e
  FROM bounds GROUP BY minute
),
conc AS (
  SELECT minute,
         SUM(s) OVER (ORDER BY minute) - SUM(e) OVER (ORDER BY minute) + MAX(e) OVER (ORDER BY minute RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
           AS live
  FROM mg
),
hourly AS (
  SELECT CAST((minute // 60) % 24 AS INT) AS hour_utc,
         CAST(MAX(live) AS BIGINT) AS peak_concurrency,
         CAST(COUNT(*) AS BIGINT) AS n_active_minutes
  FROM conc GROUP BY 1
)
SELECT hour_utc, peak_concurrency, n_active_minutes FROM hourly
UNION ALL
SELECT -1, (SELECT MAX(peak_concurrency) FROM hourly),
       (SELECT CAST(SUM(n_active_minutes) AS BIGINT) FROM hourly)
ORDER BY hour_utc
"""


@query("events_peak_concurrency", oracle=PEAK_CONCURRENCY_ORACLE)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per hour-of-day (plus the global
    peak as the hour=-1 row) — the capacity-planning number behind
    autoscaling targets and concurrency billing, computed with the
    boundary-sweep (+1 at session start minute, −1 after its last
    minute; a session is live from its first through its last minute
    INCLUSIVE).

    BOUNDARY-SAMPLING SEMANTICS (deliberate, oracle-pinned): liveness
    is evaluated only at DISTINCT SESSION-BOUNDARY minutes, not at
    every calendar minute. The global hour=-1 peak is exact (true
    concurrency can only change at a boundary), but a per-hour bucket
    crossed by long sessions with no start/end inside it reports the
    boundary-minute peaks only; and n_active_minutes counts distinct
    boundary minutes in the bucket, not minutes-with-live-sessions.

    Algorithm: sessions fold to (minute, starts, ends) grain, then
    live(m) = Σstarts(≤m) − Σends(≤m) + ends(m) — RANGE-framed
    cumulative sums over the distinct-minute total order (the +ends
    term keeps the closing minute counted, i.e. ends subtract only
    AFTER their minute). All integers end-to-end.

    Scale: sessionization shuffles on user_id (one exchange); the
    sweep frame is MINUTE-grain — bounded by the observation
    calendar (~43k rows/month) regardless of corpus size, so the
    unpartitioned windows never see corpus-grain data (same law as
    events_hypertable_rollup / events_kaplan_meier).
    """
    from taps_spark.operators.events import session_stats

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    sess = session_stats(ev, gap_minutes=30).select(
        F.expr("unix_micros(cast(session_start as timestamp)) div 60000000").alias("m0"),
        F.expr("unix_micros(cast(session_end as timestamp)) div 60000000").alias("m1"),
    )
    bounds = sess.select(
        F.col("m0").alias("minute"), F.lit(1).alias("starts"), F.lit(0).alias("ends")
    ).unionByName(
        sess.select(
            F.col("m1").alias("minute"), F.lit(0).alias("starts"), F.lit(1).alias("ends")
        )
    )
    mg = bounds.groupBy("minute").agg(
        F.sum("starts").alias("s"), F.sum("ends").alias("e")
    )
    wmin = Window.orderBy("minute")
    conc = mg.select(
        "minute",
        (
            F.sum("s").over(wmin) - F.sum("e").over(wmin) + F.col("e")
        ).alias("live"),
    )
    hourly = conc.groupBy(
        F.expr("cast((minute div 60) % 24 as int)").alias("hour_utc")
    ).agg(
        F.max("live").cast("long").alias("peak_concurrency"),
        F.count(F.lit(1)).alias("n_active_minutes"),
    # r13 (§1.2): the return unions `hourly` with `glob` (a rollup OF
    # hourly), and Spark does not common-subexpression-eliminate
    # across Union branches — without a barrier each branch replayed
    # the whole pipeline (sessionize shuffle + minute-grain windows)
    # from the scan up: 2 executions for 24 output rows. The ≤24-row
    # checkpoint executes it once; bounded by the hour-of-day domain
    # at any corpus size.
    ).transform(materialize)
    glob = hourly.agg(
        F.max("peak_concurrency").alias("peak_concurrency"),
        F.sum("n_active_minutes").alias("n_active_minutes"),
    ).select(
        F.lit(-1).cast("int").alias("hour_utc"),
        "peak_concurrency",
        F.col("n_active_minutes").cast("long").alias("n_active_minutes"),
    )
    return hourly.unionByName(glob).orderBy("hour_utc")


VELOCITY_ALERT_ORACLE = """
WITH t AS (
  SELECT user_id, epoch_us(ts) AS t_us FROM events
),
vel AS (
  SELECT user_id,
         COUNT(*) OVER (PARTITION BY user_id ORDER BY t_us
                        RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
           AS w_cnt
  FROM t
),
peak AS (
  SELECT user_id,
         CAST(MAX(w_cnt) AS BIGINT) AS peak_10min_events,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM vel GROUP BY user_id
)
SELECT user_id, peak_10min_events, n_events, CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    ORDER BY peak_10min_events DESC, user_id) AS rank
  FROM peak
)
WHERE rank <= 20
ORDER BY rank
"""


@query("events_velocity_alert", oracle=VELOCITY_ALERT_ORACLE)
def events_velocity_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Velocity alerting: each user's PEAK event count inside any
    trailing 10-minute window, top-20 — the rate-anomaly primitive
    behind fraud velocity rules, abuse throttling, and bot
    detection ('more than N actions in M minutes'), computed exactly
    rather than on bucket boundaries (a tumbling-bucket count misses
    bursts straddling the edge; the sliding RANGE frame does not).

    Determinism: the RANGE frame is VALUE-bounded (microsecond
    interval), so frame membership is tie-safe by construction — no
    physical-order dependence even when events share a timestamp;
    the alert ranking closes its total order with user_id.

    Scale: ONE window exchange on user_id (the sessionizer's
    partition key), then a user-grain fold; the top-20 is
    WindowGroupLimit-reducible. The frame holds at most
    (peak rate × 10 min) rows per user — bounded by true burst
    size, not history length.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    t = ev.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("t_us")
        .rangeBetween(-600000000, 0)
    )
    vel = t.select("user_id", F.count(F.lit(1)).over(wr).alias("w_cnt"))
    peak = vel.groupBy("user_id").agg(
        F.max("w_cnt").cast("long").alias("peak_10min_events"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wrank = Window.orderBy(F.desc("peak_10min_events"), "user_id")
    return (
        peak.withColumn("rank", F.row_number().over(wrank))
        .filter(F.col("rank") <= 20)
        .select(
            "user_id", "peak_10min_events", "n_events",
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("rank")
    )


FUNNEL_TIME_BOUNDED_ORACLE = """
WITH s AS (
  SELECT user_id, MIN(epoch_us(ts)) AS s_us
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS c_us
  FROM events e JOIN s ON s.user_id = e.user_id
  WHERE e.event_type = 'click'
    AND epoch_us(e.ts) >= s.s_us
    AND epoch_us(e.ts) < s.s_us + 7 * 86400000000
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_us
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase'
    AND epoch_us(e.ts) >= c.c_us
    AND epoch_us(e.ts) < c.c_us + 7 * 86400000000
  GROUP BY e.user_id
),
counts AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s) AS n1,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n2,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n3
)
SELECT 1 AS stage, 'signup' AS event_type, n1 AS n_users,
       CAST(1000000 AS BIGINT) AS conv_from_prev_ppm FROM counts
UNION ALL
SELECT 2, 'click_7d', n2, CAST((n2 * 1000000) // n1 AS BIGINT) FROM counts
UNION ALL
SELECT 3, 'purchase_7d', n3, CAST((n3 * 1000000) // n2 AS BIGINT) FROM counts
ORDER BY stage
"""


@query("events_funnel_time_bounded", oracle=FUNNEL_TIME_BOUNDED_ORACLE)
def events_funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded conversion funnel: signup → first click within
    7 days → first purchase within 7 days OF THAT CLICK, with exact
    per-stage conversion ppm — the funnel product analytics actually
    ships (events_funnel's unbounded variant counts a purchase two
    years later as converted; bounded windows measure the campaign).

    Each stage is one user-grain MIN aggregate joined to the
    previous stage's anchor time — the anchor CHAINS (the purchase
    window opens at the click, not the signup), which is the part a
    windowed-join formulation gets wrong. Conversions are exact
    integer floor-division ppm.

    Scale: three user-grain aggregations sharing ONE user_id
    exchange shape + two user-grain joins; the result is 3 rows.
    No window function, no corpus-grain frame.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    day7 = 7 * 86400000000
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(us).alias("s_us"))
    )
    c = (
        ev.join(s, "user_id")
        .filter(
            (F.col("event_type") == "click")
            & (us >= F.col("s_us"))
            & (us < F.col("s_us") + day7)
        )
        .groupBy("user_id")
        .agg(F.min(us).alias("c_us"))
    )
    p = (
        ev.join(c, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (us >= F.col("c_us"))
            & (us < F.col("c_us") + day7)
        )
        .groupBy("user_id")
        .agg(F.min(us).alias("p_us"))
    )
    counts = (
        s.agg(F.count(F.lit(1)).alias("n1"))
        .crossJoin(F.broadcast(c.agg(F.count(F.lit(1)).alias("n2"))))
        .crossJoin(F.broadcast(p.agg(F.count(F.lit(1)).alias("n3"))))
    )
    stage = lambda num, name, n, prev: counts.select(  # noqa: E731
        F.lit(num).alias("stage"),
        F.lit(name).alias("event_type"),
        F.col(n).alias("n_users"),
        (
            F.lit(1000000).cast("long")
            if prev is None
            else F.expr(f"({n} * 1000000) div {prev}")
        ).alias("conv_from_prev_ppm"),
    )
    return (
        stage(1, "signup", "n1", None)
        .unionByName(stage(2, "click_7d", "n2", "n1"))
        .unionByName(stage(3, "purchase_7d", "n3", "n2"))
        .orderBy("stage")
    )


OUTAGE_WINDOWS_ORACLE = """
WITH m AS (
  SELECT DISTINCT epoch_us(ts) // 60000000 AS minute FROM events
),
g AS (
  SELECT minute,
         LAG(minute) OVER (ORDER BY minute) AS prev_minute
  FROM m
)
SELECT CAST(prev_minute + 1 AS BIGINT) AS gap_start_minute,
       CAST(minute - 1 AS BIGINT) AS gap_end_minute,
       CAST(minute - prev_minute - 1 AS BIGINT) AS gap_minutes
FROM g
WHERE prev_minute IS NOT NULL AND minute - prev_minute - 1 >= 30
ORDER BY gap_start_minute
"""


@query("events_outage_windows", oracle=OUTAGE_WINDOWS_ORACLE)
def events_outage_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outage detection: intervals of ≥ 30 consecutive minutes with
    ZERO events anywhere in the stream — the ops-side mirror of the
    sessionizer (a gap in everyone's activity at once is a pipeline/
    ingestion incident, not user behavior), and the data-quality
    gate a freshness SLA monitors between batch loads.

    Scale: the corpus collapses to DISTINCT active minutes first —
    a calendar-bounded frame (≤ 43k rows/month regardless of event
    volume; the hypertable law) — so the single lag window runs on
    bounded data; the gap filter emits only the incident intervals.
    One map-side distinct + one tiny window.

    Determinism: minutes are exact integer epoch-quotients and
    DISTINCT makes the lag key unique — a total order by
    construction.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    m = ev.select(
        F.expr("unix_micros(cast(ts as timestamp)) div 60000000").alias("minute")
    ).distinct()
    g = m.select(
        "minute", F.lag("minute").over(Window.orderBy("minute")).alias("prev_minute")
    )
    return (
        g.filter(
            F.col("prev_minute").isNotNull()
            & (F.col("minute") - F.col("prev_minute") - 1 >= 30)
        )
        .select(
            (F.col("prev_minute") + 1).alias("gap_start_minute"),
            (F.col("minute") - 1).alias("gap_end_minute"),
            (F.col("minute") - F.col("prev_minute") - 1).alias("gap_minutes"),
        )
        .orderBy("gap_start_minute")
    )


LIFECYCLE_ORACLE = """
WITH um AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS m
  FROM events
),
fm AS (SELECT user_id, MIN(m) AS first_m FROM um GROUP BY user_id),
mx AS (SELECT MAX(m) AS max_m FROM um),
cls AS (
  SELECT um.user_id, um.m,
         CASE
           WHEN um.m = fm.first_m THEN 'new'
           WHEN LAG(um.m) OVER (PARTITION BY um.user_id ORDER BY um.m)
                = um.m - 1 THEN 'retained'
           ELSE 'resurrected'
         END AS st
  FROM um JOIN fm ON fm.user_id = um.user_id
),
churn AS (
  SELECT a.user_id, a.m + 1 AS m
  FROM um a, mx
  WHERE a.m + 1 <= mx.max_m
    AND NOT EXISTS (
      SELECT 1 FROM um b WHERE b.user_id = a.user_id AND b.m = a.m + 1
    )
),
months AS (SELECT DISTINCT m FROM um)
SELECT months.m AS week_index,
       CAST(COALESCE(SUM(CASE WHEN cls.st = 'new' THEN 1 END), 0) AS BIGINT)
         AS n_new,
       CAST(COALESCE(SUM(CASE WHEN cls.st = 'retained' THEN 1 END), 0) AS BIGINT)
         AS n_retained,
       CAST(COALESCE(SUM(CASE WHEN cls.st = 'resurrected' THEN 1 END), 0) AS BIGINT)
         AS n_resurrected,
       CAST(COUNT(cls.user_id) AS BIGINT) AS n_active,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM churn WHERE churn.m = months.m)
         AS n_churned
FROM months LEFT JOIN cls ON cls.m = months.m
GROUP BY months.m
ORDER BY week_index
"""


@query("events_user_lifecycle_states", oracle=LIFECYCLE_ORACLE)
def events_user_lifecycle_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting at WEEK grain: every week's active users
    decomposed into NEW (first week ever), RETAINED (also active the
    week before), and RESURRECTED (returned after a gap), plus the
    week's CHURNED count (active last week, absent now) — the WAU
    waterfall every growth team reports, and the pair to
    events_retention_cohorts (cohorts slice by signup age; lifecycle
    slices by state transitions). Week = epoch-microsecond div — a
    calendar-free grain both engines share exactly.

    Identity pinned by construction AND test: n_active = n_new +
    n_retained + n_resurrected, and week-over-week,
    active(w) = active(w−1) + new(w) + resurrected(w) − churned(w).

    Scale: the corpus collapses to DISTINCT (user, week) grain in
    one map-side pass; the state window partitions per user over
    unique weeks (total order); churn is a key-shifted anti-join
    on the same grain. Everything after the first distinct runs on
    user-week cardinality, not event volume.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    um = ev.select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 604800000000").alias("m"),
    ).distinct()
    fm = um.groupBy("user_id").agg(F.min("m").alias("first_m"))
    mx = um.agg(F.max("m").alias("max_m"))
    wu = Window.partitionBy("user_id").orderBy("m")
    cls = (
        um.join(fm, "user_id")
        .select(
            "user_id", "m",
            F.when(F.col("m") == F.col("first_m"), F.lit("new"))
            .when(F.lag("m").over(wu) == F.col("m") - 1, F.lit("retained"))
            .otherwise(F.lit("resurrected"))
            .alias("st"),
        )
    )
    churn = (
        um.crossJoin(F.broadcast(mx))
        .filter(F.col("m") + 1 <= F.col("max_m"))
        .select("user_id", (F.col("m") + 1).alias("m"))
        .join(um, ["user_id", "m"], "left_anti")
        .groupBy("m")
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    per_month = cls.groupBy("m").agg(
        F.sum((F.col("st") == "new").cast("int")).cast("long").alias("n_new"),
        F.sum((F.col("st") == "retained").cast("int")).cast("long").alias("n_retained"),
        F.sum((F.col("st") == "resurrected").cast("int")).cast("long").alias("n_resurrected"),
        F.count(F.lit(1)).alias("n_active"),
    )
    return (
        per_month.join(churn, "m", "left")
        .select(
            F.col("m").alias("week_index"),
            "n_new", "n_retained", "n_resurrected", "n_active",
            F.coalesce(F.col("n_churned"), F.lit(0)).alias("n_churned"),
        )
        .orderBy("week_index")
    )


EXPFIT_GOF_ORACLE = """
WITH g AS (
  SELECT event_type,
         epoch_us(ts) - LAG(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
),
gg AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL AND gap > 0),
fit AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(gap) AS BIGINT) AS s
  FROM gg GROUP BY event_type
),
ks AS (SELECT unnest(range(1, 10)) AS k),
edges AS (
  SELECT fit.event_type,
         ks.k,
         -LN(1.0 - ks.k / 10.0) * (CAST(fit.s AS DOUBLE) / fit.n) AS edge
  FROM fit CROSS JOIN ks
),
binned AS (
  SELECT gg.event_type,
         (SELECT COUNT(*) FROM edges e
          WHERE e.event_type = gg.event_type
            AND CAST(gg.gap AS DOUBLE) > e.edge) AS bin
  FROM gg
),
oc AS (
  SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS o
  FROM binned GROUP BY event_type, bin
),
chi AS (
  SELECT fit.event_type, fit.n,
         SUM(CAST(FLOOR((CAST(oc.o AS DOUBLE) - fit.n / 10.0)
                        * (CAST(oc.o AS DOUBLE) - fit.n / 10.0)
                        / (fit.n / 10.0) * 1000000000 + 0.5)
                  AS DECIMAL(38,0))) AS q
  FROM fit JOIN oc ON oc.event_type = fit.event_type
  GROUP BY fit.event_type, fit.n
)
SELECT chi.event_type, chi.n AS n_gaps,
       CAST(FLOOR(CAST(fit.s AS DOUBLE) / fit.n + 0.5) AS BIGINT)
         AS mean_gap_us,
       CAST(FLOOR((CAST(chi.q AS DOUBLE) / 1000000000) * 10000 + 0.5)
            AS BIGINT) AS chi2_x10k
FROM chi JOIN fit ON fit.event_type = chi.event_type
ORDER BY chi.event_type
"""


@query("events_expfit_gof", oracle=EXPFIT_GOF_ORACLE)
def events_expfit_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parametric fit + goodness-of-fit: fit Exp(λ) to each event
    type's same-user inter-arrival gaps by MLE (λ̂ = n/Σgap), bin the
    gaps at the FITTED distribution's own deciles, and report the
    chi-square distance from the uniform 10% expected occupancy —
    the 'is this process actually Poisson' check behind capacity
    models and anomaly baselines (a big χ² says bursts/heavy tails;
    events_interarrival_stats gives moments, this tests the model).

    Determinism: gaps are exact integer micros over the
    FIXTURES-safe total order; decile edges are one fixed chain per
    (type, k) from exact n/Σ; per-bin χ² terms nano-quantize into a
    DECIMAL sum. The lag window partitions per user (the
    sessionizer exchange).

    Scale: one user-partitioned window + a type-grain fit + a
    9-row-per-type broadcast comparison + a (type, bin) fold —
    nothing wider than |types|×10 after the gap scan.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "event_type", (us - F.lag(us).over(wu)).alias("gap")
    ).filter(F.col("gap").isNotNull() & (F.col("gap") > 0))
    fit = g.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("gap").alias("s")
    )
    ks = spark.range(1, 10).select(F.col("id").alias("k"))
    edges = fit.crossJoin(F.broadcast(ks)).select(
        "event_type", "k",
        (
            -F.log(F.lit(1.0) - F.col("k") / F.lit(10.0))
            * (F.col("s").cast("double") / F.col("n"))
        ).alias("edge"),
    )
    # Bin at DISTINCT (type, gap) grain (bounded by the gap-value
    # grid), weighted by multiplicity — binning raw rows against the
    # 9-edge broadcast would duplicate every row 9x first.
    gd = g.groupBy("event_type", "gap").agg(F.count(F.lit(1)).alias("m"))
    binned = (
        gd.join(F.broadcast(edges.select("event_type", "edge")), "event_type")
        .select(
            "event_type", "gap", "m",
            (F.col("gap").cast("double") > F.col("edge")).cast("int").alias("gt"),
        )
        .groupBy("event_type", "gap", "m")
        .agg(F.sum("gt").alias("bin"))
    )
    oc = binned.groupBy("event_type", "bin").agg(F.sum("m").alias("o"))
    nd = F.col("n").cast("double")
    chi = (
        fit.join(oc, "event_type")
        .select(
            "event_type", "n", "s",
            F.floor(
                (F.col("o").cast("double") - nd / 10.0)
                * (F.col("o").cast("double") - nd / 10.0)
                / (nd / 10.0)
                * 1000000000
                + F.lit(0.5)
            )
            .cast("decimal(38,0)")
            .alias("qv"),
        )
        .groupBy("event_type", "n", "s")
        .agg(F.sum("qv").alias("q"))
    )
    return chi.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        F.floor(F.col("s").cast("double") / F.col("n") + F.lit(0.5))
        .cast("long")
        .alias("mean_gap_us"),
        F.floor((F.col("q").cast("double") / 1000000000) * 10000 + F.lit(0.5))
        .cast("long")
        .alias("chi2_x10k"),
    ).orderBy("event_type")


SEASONALITY_STRENGTH_ORACLE = """
WITH cells AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day,
         CAST((epoch_us(ts) // 3600000000) % 24 AS INT) AS hour_utc,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events
  GROUP BY 1, 2, 3
),
tot AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(SUM(c) AS BIGINT) AS s1,
         SUM(CAST(c * c AS DECIMAL(38,0))) AS s2
  FROM cells GROUP BY event_type
),
hr AS (
  SELECT event_type, hour_utc, CAST(COUNT(*) AS BIGINT) AS nh,
         CAST(SUM(c) AS BIGINT) AS sh
  FROM cells GROUP BY event_type, hour_utc
),
ssb AS (
  SELECT hr.event_type,
         SUM(CAST(FLOOR((CAST(hr.sh AS DOUBLE) * hr.sh / hr.nh)
                        * 1000 + 0.5) AS DECIMAL(38,0))) AS bterm
  FROM hr GROUP BY hr.event_type
)
SELECT tot.event_type, tot.n_cells,
       CAST(FLOOR(((CAST(ssb.bterm AS DOUBLE) / 1000
                    - CAST(tot.s1 AS DOUBLE) * tot.s1 / tot.n_cells)
                   / (CAST(tot.s2 AS DOUBLE)
                      - CAST(tot.s1 AS DOUBLE) * tot.s1 / tot.n_cells))
                  * 1000000 + 0.5) AS BIGINT) AS seasonality_ppm
FROM tot JOIN ssb ON ssb.event_type = tot.event_type
ORDER BY tot.event_type
"""


@query("events_seasonality_strength", oracle=SEASONALITY_STRENGTH_ORACLE)
def events_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality strength per event type: the fraction
    of hourly-count variance explained by hour-of-day (between-hour
    sum of squares over total, i.e. the eta-squared of a one-way
    layout on the 24 hour groups) — near 1 means a strong daily
    cycle a forecaster must model, near 0 means the load is
    hour-stationary (events_weekly_heatmap SHOWS the cycle; this
    gives the one-number effect size).

    Determinism: counting happens at (type, day, hour) CELL grain
    (exact integers); per-hour Σ²/n terms are fixed chains milli-
    quantized into a DECIMAL sum (24 terms, unordered); the final
    ratio is one chain per type row.

    Scale: the corpus collapses to calendar-bounded cells map-side;
    everything after is |types|×24 arithmetic. No window at all.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    cells = ev.groupBy(
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("day"),
        F.expr(
            "cast((unix_micros(cast(ts as timestamp)) div 3600000000) % 24 as int)"
        ).alias("hour_utc"),
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = cells.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("c").alias("s1"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)")).alias("s2"),
    )
    hr = cells.groupBy("event_type", "hour_utc").agg(
        F.count(F.lit(1)).alias("nh"), F.sum("c").alias("sh")
    )
    ssb = hr.select(
        "event_type",
        F.floor(
            (F.col("sh").cast("double") * F.col("sh") / F.col("nh")) * 1000
            + F.lit(0.5)
        )
        .cast("decimal(38,0)")
        .alias("bterm"),
    ).groupBy("event_type").agg(F.sum("bterm").alias("bterm"))
    num = (
        F.col("bterm").cast("double") / 1000
        - F.col("s1").cast("double") * F.col("s1") / F.col("n_cells")
    )
    den = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n_cells")
    )
    return (
        tot.join(ssb, "event_type")
        .select(
            "event_type",
            "n_cells",
            F.floor(num / den * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("seasonality_ppm"),
        )
        .orderBy("event_type")
    )


TYPE_MINUTE_CORR_ORACLE = """
WITH cells AS (
  SELECT epoch_us(ts) // 60000000 AS minute, event_type,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
minutes AS (SELECT DISTINCT minute FROM cells),
types AS (SELECT DISTINCT event_type FROM cells),
grid AS (
  SELECT m.minute, t.event_type, COALESCE(cells.c, 0) AS c
  FROM minutes m CROSS JOIN types t
  LEFT JOIN cells ON cells.minute = m.minute
                 AND cells.event_type = t.event_type
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(a.c) AS BIGINT) AS sa,
         CAST(SUM(b.c) AS BIGINT) AS sb,
         SUM(CAST(a.c * a.c AS DECIMAL(38,0))) AS qa,
         SUM(CAST(b.c * b.c AS DECIMAL(38,0))) AS qb,
         SUM(CAST(a.c * b.c AS DECIMAL(38,0))) AS sab
  FROM grid a JOIN grid b
    ON a.minute = b.minute AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, n AS n_minutes,
       CAST(FLOOR((CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * sb / n)
                  / SQRT((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / n)
                         * (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / n))
                  * 1000000 + 0.5) AS BIGINT) AS pearson_ppm
FROM pairs
ORDER BY type_a, type_b
"""


@query("events_type_minute_correlation", oracle=TYPE_MINUTE_CORR_ORACLE)
def events_type_minute_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-stream correlation: Pearson correlation of per-MINUTE
    counts between every pair of event types (zero-filled on the
    shared minute grid) — the incident-analysis primitive ('do error
    spikes co-move with purchase attempts?') and the cross-series
    companion to events_autocorrelation.

    Determinism: counts live on the (minute, type) integer grid,
    zero-filled via the minute×type cross grid so absent cells
    count as 0 (a correlation over only-joint-active minutes is a
    different, biased statistic); Σx/Σx²/Σxy are exact
    BIGINT/DECIMAL sums; one fixed chain per pair row.

    Scale: the corpus collapses to calendar-bounded (minute, type)
    cells map-side; the pair join runs on the minute key over that
    bounded grid (|minutes|×|types|² worst case — calendar×25 here);
    output is C(|types|,2) rows.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    cells = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 60000000").alias("minute"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("c"))
    minutes = cells.select("minute").distinct()
    types = cells.select("event_type").distinct()
    grid = (
        minutes.crossJoin(F.broadcast(types))
        .join(cells, ["minute", "event_type"], "left")
        .select("minute", "event_type", F.coalesce("c", F.lit(0)).alias("c"))
    )
    a = grid.select(
        "minute", F.col("event_type").alias("type_a"), F.col("c").alias("ca")
    )
    b = grid.select(
        "minute", F.col("event_type").alias("type_b"), F.col("c").alias("cb")
    )
    pairs = (
        a.join(b, "minute")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("ca").alias("sa"),
            F.sum("cb").alias("sb"),
            F.sum((F.col("ca") * F.col("ca")).cast("decimal(38,0)")).alias("qa"),
            F.sum((F.col("cb") * F.col("cb")).cast("decimal(38,0)")).alias("qb"),
            F.sum((F.col("ca") * F.col("cb")).cast("decimal(38,0)")).alias("sab"),
        )
    )
    nd = F.col("n").cast("double")
    num = F.col("sab").cast("double") - F.col("sa").cast("double") * F.col("sb") / nd
    den = F.sqrt(
        (F.col("qa").cast("double") - F.col("sa").cast("double") * F.col("sa") / nd)
        * (F.col("qb").cast("double") - F.col("sb").cast("double") * F.col("sb") / nd)
    )
    return pairs.select(
        "type_a", "type_b",
        F.col("n").alias("n_minutes"),
        F.floor(num / den * 1000000 + F.lit(0.5)).cast("long").alias("pearson_ppm"),
    ).orderBy("type_a", "type_b")


INTERARRIVAL_HIST_ORACLE = """
WITH o AS (
  SELECT epoch_us(ts) AS t,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nt
  FROM events
),
g AS (
  SELECT nt - t AS gap FROM o WHERE nt IS NOT NULL
),
b AS (
  SELECT CASE WHEN gap <= 0 THEN -1
              ELSE CAST(LENGTH(BIN(gap)) - 1 AS INT) END AS bucket,
         gap
  FROM g
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(MIN(gap) AS BIGINT) AS min_gap_us,
       CAST(MAX(gap) AS BIGINT) AS max_gap_us
FROM b
GROUP BY bucket
ORDER BY bucket
"""


@query("events_interarrival_histogram", oracle=INTERARRIVAL_HIST_ORACLE)
def events_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed histogram of same-user inter-arrival gaps — the
    DISTRIBUTION view that events_interarrival_stats's min/avg/max
    hides: session-timeout and rate-limit thresholds live at
    percentile knees, and a doubling histogram shows them in ~40
    bounded buckets regardless of corpus size. Bucket k holds gaps in
    [2^k, 2^(k+1)) microseconds; bucket -1 holds zero/negative gaps
    (same-microsecond events).

    Determinism: floor(log2(gap)) is computed WITHOUT libm as
    length(bin(gap)) - 1 — the binary digit count of an exact integer
    microsecond gap, bit-identical on both engines (the no-POWER law).

    Scale: one per-user window sort (the sessionizer's shuffle), then
    a map-side-combinable agg onto <= ~40 buckets.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = (
        ev.select(micros.alias("t"), F.lead(micros).over(w).alias("nt"))
        .filter(F.col("nt").isNotNull())
        .select((F.col("nt") - F.col("t")).alias("gap"))
    )
    b = g.select(
        F.when(F.col("gap") <= 0, F.lit(-1))
        .otherwise((F.length(F.bin(F.col("gap"))) - 1).cast("int"))
        .alias("bucket"),
        "gap",
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap").alias("min_gap_us"),
            F.max("gap").alias("max_gap_us"),
        )
        .orderBy("bucket")
    )


FANO_ORACLE = """
WITH m AS (
  SELECT event_type, epoch_us(ts) // 60000000 AS minute,
         COUNT(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
span AS (
  SELECT MAX(epoch_us(ts) // 60000000) - MIN(epoch_us(ts) // 60000000) + 1 AS mm
  FROM events
),
agg AS (
  SELECT event_type,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS ss,
         CAST(COUNT(*) AS BIGINT) AS n_active
  FROM m GROUP BY event_type
)
SELECT event_type,
       s AS n_events,
       n_active AS n_active_minutes,
       CAST(span.mm AS BIGINT) AS span_minutes,
       CAST(FLOOR((CAST(ss AS DOUBLE) * span.mm - CAST(s AS DOUBLE) * s)
                  / (CAST(span.mm AS DOUBLE) * s) * 1000 + 0.5) AS BIGINT)
         AS fano_milli
FROM agg CROSS JOIN span
ORDER BY event_type
"""


@query("events_fano_factor", oracle=FANO_ORACLE)
def events_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean ratio) of per-minute event counts
    per type, ZEROS INCLUDED over the full observation span — the
    temporal-burstiness verdict (1000 milli = Poisson; above =
    bursty/clustered arrivals, below = pacing/rate-limiting). The
    event-stream twin of text_term_burstiness' per-document VMR, and
    the quantitative backdrop for events_burst_days / velocity_alert
    thresholds.

    Determinism: empty minutes never materialize — with M = span
    minutes, S = sum(c), SS = sum(c^2) over ACTIVE minutes only,
    population var/mean folds to (SS*M - S^2)/(M*S) exactly; S/SS are
    exact BIGINTs and the fold is one fixed float parse tree with a
    FLOOR(x*1000+0.5) milli export.

    Scale: one (type, minute)-grain map-side-combined count (the
    hypertable law: minute grain is calendar-bounded), a |types|-row
    aggregate, a broadcast scalar span. No window, no join wider than
    a 1-row cross.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    minute = F.expr("unix_micros(cast(ts as timestamp)) div 60000000")
    m = ev.groupBy(
        "event_type", minute.alias("minute")
    ).agg(F.count(F.lit(1)).alias("c"))
    span = ev.agg((F.max(minute) - F.min(minute) + 1).alias("mm"))
    agg = m.groupBy("event_type").agg(
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
        F.count(F.lit(1)).alias("n_active"),
    )
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    mmd = F.col("mm").cast("double")
    return (
        agg.crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.col("s").alias("n_events"),
            F.col("n_active").alias("n_active_minutes"),
            F.col("mm").cast("long").alias("span_minutes"),
            F.floor(
                (ssd * F.col("mm") - sd * F.col("s"))
                / (mmd * F.col("s"))
                * 1000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("fano_milli"),
        )
        .orderBy("event_type")
    )


DIFF_IN_DIFF_ORACLE = """
WITH base AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day,
         CAST(FLOOR(value * 1000000000 + 0.5) AS DECIMAL(38,0)) AS q
  FROM events
),
bounds AS (
  SELECT (MIN(day) + MAX(day) + 1) // 2 AS split FROM base
),
cells AS (
  SELECT event_type,
         CASE WHEN day < (SELECT split FROM bounds) THEN 0 ELSE 1 END AS post,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(q) AS sq
  FROM base GROUP BY 1, 2
),
pvt AS (
  SELECT event_type,
         MAX(CASE WHEN post = 0 THEN n END) AS n_pre,
         MAX(CASE WHEN post = 1 THEN n END) AS n_post,
         MAX(CASE WHEN post = 0 THEN
           CAST(sq AS DOUBLE) / CAST(n * 1000000000 AS DOUBLE) END) AS m_pre,
         MAX(CASE WHEN post = 1 THEN
           CAST(sq AS DOUBLE) / CAST(n * 1000000000 AS DOUBLE) END) AS m_post
  FROM cells GROUP BY event_type
),
ctrl AS (
  SELECT m_pre AS c_pre, m_post AS c_post FROM pvt WHERE event_type = 'view'
)
SELECT p.event_type, p.n_pre, p.n_post,
       CAST(FLOOR(p.m_pre * 1000000 + 0.5) AS BIGINT) AS mean_pre_ppm,
       CAST(FLOOR(p.m_post * 1000000 + 0.5) AS BIGINT) AS mean_post_ppm,
       CAST(FLOOR(((p.m_post - p.m_pre) - (c.c_post - c.c_pre)) * 1000000 + 0.5)
            AS BIGINT) AS did_ppm
FROM pvt p CROSS JOIN ctrl c
WHERE p.event_type <> 'view'
ORDER BY p.event_type
"""


@query("events_diff_in_diff", oracle=DIFF_IN_DIFF_ORACLE)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate of each event type's mean
    value shift across the corpus midpoint, against 'view' traffic as
    the control — the workhorse quasi-experimental readout for "did
    the release change this metric beyond what background drift
    explains": DiD = (mean_post − mean_pre)_treated −
    (mean_post − mean_pre)_control. The pre/post boundary is the
    data-derived midpoint day ((min+max+1) div 2), so the query is
    fixture-agnostic.

    Exactness: per-(type, period) means fold from nano-quantized
    DECIMAL sums with ONE double division each; the DiD combines four
    such means in a fixed parse tree, ppm-rounded. The midpoint is an
    integer computed identically (div vs //).

    Scale: one map-side-combined (type, period) aggregate over the
    scan (the 1-row bounds frame broadcasts), a 5-row pivot, a 1-row
    control broadcast — event volume only touches the first pass.
    """
    from taps_spark.operators.numeric import quantize_nano

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    base = ev.select(
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("day"),
        quantize_nano(F.col("value")).alias("q"),
    )
    bounds = base.agg(
        F.expr("(min(day) + max(day) + 1) div 2").alias("split")
    )
    cells = (
        base.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.when(F.col("day") < F.col("split"), 0).otherwise(1).alias("post"),
            "q",
        )
        .groupBy("event_type", "post")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("q").alias("sq"))
    )
    mean = F.col("sq").cast("double") / (F.col("n") * F.lit(1000000000)).cast(
        "double"
    )
    pick = lambda flag, col: F.max(F.when(F.col("post") == flag, col))  # noqa: E731
    pvt = cells.groupBy("event_type").agg(
        pick(0, F.col("n")).alias("n_pre"),
        pick(1, F.col("n")).alias("n_post"),
        pick(0, mean).alias("m_pre"),
        pick(1, mean).alias("m_post"),
    )
    ctrl = pvt.filter(F.col("event_type") == "view").select(
        F.col("m_pre").alias("c_pre"), F.col("m_post").alias("c_post")
    )
    return (
        pvt.filter(F.col("event_type") != "view")
        .crossJoin(F.broadcast(ctrl))
        .select(
            "event_type",
            "n_pre",
            "n_post",
            F.floor(F.col("m_pre") * 1000000 + 0.5).cast("long").alias(
                "mean_pre_ppm"
            ),
            F.floor(F.col("m_post") * 1000000 + 0.5).cast("long").alias(
                "mean_post_ppm"
            ),
            F.floor(
                (
                    (F.col("m_post") - F.col("m_pre"))
                    - (F.col("c_post") - F.col("c_pre"))
                )
                * 1000000
                + 0.5
            )
            .cast("long")
            .alias("did_ppm"),
        )
        .orderBy("event_type")
    )


CROSS_CORRELATION_ORACLE = """
WITH daily AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day,
         CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS DECIMAL(38,0)))
              AS DECIMAL(19,0)) AS sv
  FROM events
  GROUP BY 1, 2
),
x AS (SELECT day, sv FROM daily WHERE event_type = 'error'),
lags AS (SELECT unnest([0, 1, 2, 3, 7]) AS lag),
joined AS (
  SELECT y.event_type, l.lag,
         x.sv AS vx, y.sv AS vy
  FROM x
  CROSS JOIN lags l
  JOIN daily y ON y.day = x.day + l.lag AND y.event_type <> 'error'
),
m AS (
  SELECT event_type, lag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(vx) AS DOUBLE) AS sx,
         CAST(SUM(vy) AS DOUBLE) AS sy,
         CAST(SUM(CAST(vx * vx AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(vy * vy AS DECIMAL(38,0))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(vx * vy AS DECIMAL(38,0))) AS DOUBLE) AS sxy
  FROM joined GROUP BY event_type, lag
)
SELECT event_type, CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_days,
       CAST(FLOOR((n * sxy - sx * sy)
                  / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy))
                  * 1000000 + 0.5) AS BIGINT) AS ccf_ppm
FROM m
ORDER BY event_type, lag
"""


@query("events_cross_correlation_lagged", oracle=CROSS_CORRELATION_ORACLE)
def events_cross_correlation_lagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the daily 'error' value series
    and every other event type's series at lags 0/1/2/3/7 days — the
    lead–lag detector behind "do error spikes foreshadow purchase
    drops next day": events_type_minute_correlation answers the
    contemporaneous question at minute grain; the CCF sweep finds the
    offset where the relationship peaks (the same primitive behind
    transfer-health alerting on the reference's lineage, generalized
    cross-stream).

    Exactness: daily values are micro-quantized exact DECIMAL(19,0)
    sums (micro grid so the cross-products stay inside DECIMAL(38,0):
    19 + 19 digits); each lag's Pearson folds from six exact sums in
    one fixed IEEE tree (SQRT chains, no POWER).

    Scale: the quadratic-ish stage is day grain × 5 lags per type
    (≈150 joined rows per type), independent of event volume; the raw
    stream is touched exactly once by the map-side-combined daily
    aggregate.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    daily = (
        ev.select(
            "event_type",
            F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias(
                "day"
            ),
            F.floor(F.col("value") * 1000000 + 0.5).cast("decimal(38,0)").alias(
                "q"
            ),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("q").cast("decimal(19,0)").alias("sv"))
    )
    x = daily.filter(F.col("event_type") == "error").select(
        F.col("day").alias("xday"), F.col("sv").alias("vx")
    )
    lags = spark.range(1).select(
        F.explode(F.array(*[F.lit(v) for v in (0, 1, 2, 3, 7)])).alias("lag")
    )
    joined = (
        x.crossJoin(F.broadcast(lags))
        .join(
            daily.filter(F.col("event_type") != "error").select(
                "event_type", F.col("day").alias("yday"), F.col("sv").alias("vy")
            ),
            F.col("yday") == F.col("xday") + F.col("lag"),
        )
        .select("event_type", "lag", "vx", "vy")
    )
    d38 = "decimal(38,0)"
    m = joined.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("vx").cast("double").alias("sx"),
        F.sum("vy").cast("double").alias("sy"),
        F.sum((F.col("vx") * F.col("vx")).cast(d38)).cast("double").alias("sxx"),
        F.sum((F.col("vy") * F.col("vy")).cast(d38)).cast("double").alias("syy"),
        F.sum((F.col("vx") * F.col("vy")).cast(d38)).cast("double").alias("sxy"),
    )
    return m.select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("long").alias("n_days"),
        F.floor(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            )
            * 1000000
            + 0.5
        )
        .cast("long")
        .alias("ccf_ppm"),
    ).orderBy("event_type", "lag")


USER_STICKINESS_ORACLE = """
WITH dau AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS du
  FROM events
  GROUP BY 1, 2
),
agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(du) AS BIGINT) AS sum_dau
  FROM dau GROUP BY event_type
),
mau AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
  FROM events GROUP BY event_type
)
SELECT a.event_type, a.n_days, mau.mau,
       CAST(FLOOR(CAST(a.sum_dau AS DOUBLE)
                  / CAST(a.n_days * mau.mau AS DOUBLE)
                  * 1000000 + 0.5) AS BIGINT) AS stickiness_ppm
FROM agg a JOIN mau ON a.event_type = mau.event_type
ORDER BY a.event_type
"""


@query("events_user_stickiness", oracle=USER_STICKINESS_ORACLE)
def events_user_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per event type — mean daily active users
    over monthly active users, THE product-engagement ratio (a
    stickiness of 1.0 means every monthly user shows up every day).
    Complements events_active_users_rolling (the time series) with
    the single per-type engagement number executives track.

    Exactness: both numerator and denominator are exact integer
    distinct-user counts; the ratio is ONE double division of
    integers (numerator Σdau, denominator n_days·mau folded in
    integer space first), ppm-rounded.

    Scale: two distinct-aggregates — (type, day)-grain then type
    grain — both map-side-partial; no window, no self-join. The
    distinct shuffles user ids, never events.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    day = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    dau = (
        ev.select("event_type", day.alias("day"), "user_id")
        .groupBy("event_type", "day")
        .agg(F.countDistinct("user_id").alias("du"))
    )
    agg = dau.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("du").cast("long").alias("sum_dau"),
    )
    mau = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("mau")
    )
    return (
        agg.join(mau, "event_type")
        .select(
            "event_type",
            "n_days",
            "mau",
            F.floor(
                F.col("sum_dau").cast("double")
                / (F.col("n_days") * F.col("mau")).cast("double")
                * 1000000
                + 0.5
            )
            .cast("long")
            .alias("stickiness_ppm"),
        )
        .orderBy("event_type")
    )
