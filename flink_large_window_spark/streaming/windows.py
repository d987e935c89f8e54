"""Event-time window operators, batch-checkable forms (SURVEY.md §2.9).

This is the capability core of the reference (a Flink large-window
stream processor; snapshot empty — SURVEY.md §0, anchors are public
Flink API classes: TumblingEventTimeWindows, SlidingEventTimeWindows,
EventTimeSessionWindows, ContinuousEventTimeTrigger, KeyedProcessFunction).

Each operator here is the batch form the driver's DuckDB oracle can
check; `streams.py` holds the Structured Streaming twins (file-source
replay + watermark + availableNow) with pytest batch↔stream parity.

Semantic contracts pinned (SURVEY §2.9 gap policy):
- tumbling/sliding windows are epoch-aligned (Spark `window()` origin =
  1970-01-01 UTC); oracles reproduce bucket starts via epoch_us grid
  arithmetic, never `time_bucket`, so alignment is identical by
  construction.
- session split: a new session starts when ts - prev_ts >= gap (Spark
  merges half-open [ts, ts+gap) windows — equality does NOT merge).
- late_data_split classifies against a deterministic synthetic arrival
  permutation (event_id interleaved mod 10), because fixture ts is
  monotone with event_id and real arrival order would make the
  operator vacuously all-on-time.

Scale notes (100 TB): every aggregate is incremental (two-phase
HashAggregate = Flink AggregateFunction state), keyed by
(window-bucket × key) so state is O(#windows × #keys) not O(#events).
The sliding window fans each row into size/slide buckets (4× here) —
the known Spark cost vs Flink pane slicing (SURVEY §4); the
pre-bucket-then-rollup mitigation is applied in the oracle and noted
in the bench.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..registry import query
from ..tables import prep, table

US_15MIN = 15 * 60 * 1_000_000
US_HOUR = 60 * 60 * 1_000_000
GAP_US = 30 * 60 * 1_000_000  # session gap

def pane_slice_user_counts(
    events: DataFrame, size_us: int, slide_us: int
) -> DataFrame:
    """Per-user event counts over sliding windows by pane slicing
    (SURVEY §4 mitigation, Flink's pane/slice optimization): count once
    per (slide bucket × user), fan the pre-aggregated BUCKETS into
    their size/slide windows, and roll up. Native ``window(ts, size,
    slide)`` replicates each ROW instead; pane slicing pays a second
    aggregation, so it wins only when a slide bucket folds many events
    (measured r4 at sf0.1: ~1 event per user × 15-min bucket, 0.86 s
    against the native plan's 0.60 s).

    ``slide`` must divide ``size`` (pane slicing is only exact then)
    and the aggregate must be decomposable. Output: (w_start string,
    user_id, n), value-equal to the native plan (pinned by
    tests/test_plans.py and the shared DuckDB oracle).
    """
    ratio, rem = divmod(size_us, slide_us)
    if rem:
        raise ValueError(f"slide must divide size ({size_us}/{slide_us})")
    pre = (
        events.groupBy(
            F.window("ts", f"{slide_us} microseconds").alias("b"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("pn"))
        .select(F.col("b.start").alias("b_start"), "user_id", "pn")
    )
    slid = pre.select(
        "b_start",
        "user_id",
        "pn",
        F.explode(F.sequence(F.lit(0), F.lit(ratio - 1))).alias("k"),
    ).select(
        F.timestamp_micros(
            F.unix_micros("b_start") - F.col("k").cast("long") * slide_us
        )
        .cast("string")
        .alias("w_start"),
        "user_id",
        "pn",
    )
    return slid.groupBy("w_start", "user_id").agg(F.sum("pn").alias("n"))


@query(
    "window_tumbling_agg",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS w_start,
           event_type,
           COUNT(*)                 AS n,
           ROUND(SUM(value), 4)     AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def window_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window × event_type (TumblingEventTimeWindows)."""
    prep(spark)
    return tumbling_agg(table(spark, sf_dir, "events"))


def tumbling_agg(events: DataFrame) -> DataFrame:
    """window_tumbling_agg over ``events``: a table or a watermarked stream."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("string").alias("w_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "window_sliding_agg",
    oracle=f"""
    WITH slid AS (
      SELECT user_id,
             make_timestamp((epoch_us(ts) // {US_15MIN}) * {US_15MIN}
                            - CAST(k.k AS BIGINT) * {US_15MIN}) AS w_start
      FROM events, (SELECT UNNEST([0, 1, 2, 3]) AS k) k
    )
    SELECT CAST(w_start AS VARCHAR) AS w_start, user_id, COUNT(*) AS n
    FROM slid GROUP BY w_start, user_id
    """,
)
def window_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding 15 min per user (SlidingEventTimeWindows).

    The oracle reproduces the fan-out explicitly on the epoch-aligned
    15-min grid (window start = 15-min bucket minus k slides, k∈0..3).
    The fixture stream is sparse (~1 event per user×15-min bucket,
    measured r4), so this key runs the native single-aggregation plan;
    window_sliding_agg_prebucket runs the pane/slice rollup a dense
    production stream would use, hash-equal.
    """
    prep(spark)
    return sliding_agg(table(spark, sf_dir, "events"))


def sliding_agg(events: DataFrame) -> DataFrame:
    """window_sliding_agg over ``events``: a table or a watermarked stream."""
    return (
        events.groupBy(
            F.window(
                "ts", f"{US_HOUR} microseconds", f"{US_15MIN} microseconds"
            ).alias("w"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("string").alias("w_start"), "user_id", "n"
        )
    )


@query(
    "window_session_agg",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id, epoch_us(ts) AS us,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS gap_us
      FROM events
    ), marked AS (
      SELECT user_id, ts, event_id, us,
             CASE WHEN gap_us IS NULL OR gap_us >= {GAP_US} THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ), sessions AS (
      SELECT user_id, ts, us,
             SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS sess_id
      FROM marked
    )
    SELECT user_id,
           CAST(MIN(ts) AS VARCHAR)                          AS s_start,
           CAST(make_timestamp(MAX(us) + {GAP_US}) AS VARCHAR) AS s_end,
           COUNT(*)                                          AS n_events,
           MAX(us) + {GAP_US} - MIN(us)                      AS duration_us
    FROM sessions
    GROUP BY user_id, sess_id
    """,
)
def window_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows, 30-min inactivity gap
    (EventTimeSessionWindows.withGap). Spark ``session_window`` merges
    half-open [ts, ts+gap) panes; session end = last ts + gap."""
    prep(spark)
    return session_agg(table(spark, sf_dir, "events"))


def session_agg(events: DataFrame) -> DataFrame:
    """window_session_agg over ``events``: a table or a watermarked stream."""
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("string").alias("s_start"),
            F.col("w.end").cast("string").alias("s_end"),
            "n_events",
            (F.unix_micros("w.end") - F.unix_micros("w.start")).alias("duration_us"),
        )
    )


@query(
    "window_large_day",
    oracle="""
    SELECT CAST(CAST(date_trunc('day', ts) AS TIMESTAMP) AS VARCHAR) AS d_start,
           event_type,
           ROUND(SUM(value), 4)           AS revenue,
           COUNT(DISTINCT user_id)        AS n_users,
           COUNT(*)                       AS n
    FROM events
    GROUP BY date_trunc('day', ts), event_type
    """,
)
def window_large_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The namesake: 1-day tumbling windows over the whole month.

    "Large window" = long-duration window whose state must stay bounded
    via incremental aggregation. sum/count are two-phase; exact distinct
    is the one non-incremental aggregate — at 100 TB the streaming twin
    uses approx_count_distinct (HLL state, O(1) per window×key), see
    streams.py.
    """
    prep(spark)
    return (
        table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.round(F.sum("value"), 4).alias("revenue"),
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col("w.start").cast("string").alias("d_start"),
            "event_type",
            "revenue",
            "n_users",
            "n",
        )
    )


@query(
    "window_early_fire",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('day', ts)  AS d,
             date_trunc('hour', ts) AS h,
             event_type,
             COUNT(*)         AS n,
             SUM(value)       AS sv
      FROM events
      GROUP BY 1, 2, 3
    )
    SELECT CAST(CAST(d AS TIMESTAMP) AS VARCHAR) AS d_start,
           CAST(h AS VARCHAR) AS h_start,
           event_type,
           CAST(SUM(n) OVER w AS BIGINT)  AS running_n,
           ROUND(SUM(sv) OVER w, 4)       AS running_sum
    FROM hourly
    WINDOW w AS (
      PARTITION BY d, event_type ORDER BY h
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    )
    """,
)
def window_early_fire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Early firing of a large (1-day) window at each hour boundary —
    batch contract for Flink's ContinuousEventTimeTrigger.of(1h): the
    running day-total as of each observed hour. Streaming analogue:
    update output mode emitting per micro-batch."""
    prep(spark)
    hourly = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("day", "ts").alias("d"),
            F.date_trunc("hour", "ts").alias("h"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
    )
    w = (
        Window.partitionBy("d", "event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return hourly.select(
        F.col("d").cast("string").alias("d_start"),
        F.col("h").cast("string").alias("h_start"),
        "event_type",
        F.sum("n").over(w).alias("running_n"),
        F.round(F.sum("sv").over(w), 4).alias("running_sum"),
    )


@query(
    "watermark_dedup",
    oracle="""
    SELECT event_id, user_id, event_type, CAST(ts AS VARCHAR) AS ts_s
    FROM (
      SELECT event_id, user_id, event_type, ts,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type, date_trunc('day', ts)
               ORDER BY ts, event_id
             ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup: first event per (user, type, day).

    Batch form of Flink's keyed-state + timer dedup. The fixture's
    event_id is globally unique, so deduping on it would be vacuous;
    deduping to the first (ts, event_id) per (user, type, day) actually
    drops rows and pins the representative deterministically. Streaming
    twin: dropDuplicatesWithinWatermark (streams.py).
    """
    prep(spark)
    w = Window.partitionBy(
        "user_id", "event_type", F.date_trunc("day", "ts")
    ).orderBy("ts", "event_id")
    return (
        table(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.col("ts").cast("string").alias("ts_s"),
        )
    )


@query(
    "late_data_split",
    oracle="""
    WITH arrival AS (
      SELECT event_id, ts,
             MAX(ts) OVER (
               ORDER BY event_id % 10, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS max_seen
      FROM events
    )
    SELECT event_id,
           (max_seen IS NOT NULL AND ts < max_seen - INTERVAL 10 MINUTE) AS is_late
    FROM arrival
    """,
)
def late_data_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-vs-on-time classification for a 10-min watermark replay —
    batch reconstruction of Flink allowedLateness/sideOutputLateData.

    A row is late iff its ts < (max ts among previously-arrived rows)
    - 10 min. Arrival order is the deterministic interleave
    (event_id % 10, event_id): fixture ts is monotone with event_id, so
    true arrival order would classify everything on-time. The global
    ordered window mirrors the inherently sequential arrival stream
    (single watermark clock), so a single-partition window is the
    honest batch analogue; the streaming path keeps per-partition
    watermarks instead.
    """
    prep(spark)
    w = (
        Window.orderBy((F.col("event_id") % 10), "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    max_seen = F.max("ts").over(w)
    return (
        table(spark, sf_dir, "events")
        .select(
            "event_id",
            (
                max_seen.isNotNull()
                & (F.col("ts") < max_seen - F.expr("INTERVAL 10 MINUTES"))
            ).alias("is_late"),
        )
    )


@query(
    "stateful_count_session",
    oracle="""
    WITH seg AS (
      SELECT event_id, user_id, ts,
             SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS seg_id
      FROM events
    )
    SELECT event_id, user_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY user_id, seg_id ORDER BY ts, event_id
           ) AS INTEGER) AS n_since_signup
    FROM seg
    """,
)
def stateful_count_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom keyed state machine: per-user running event count since
    the most recent 'signup' (the signup itself restarts at 1; events
    before any signup count from stream start).

    Batch form via segment-id + intra-segment row_number. Streaming
    twin: applyInPandasWithState with {seg, count} per key (streams.py)
    — the KeyedProcessFunction + ValueState analogue.
    """
    prep(spark)
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = table(spark, sf_dir, "events").withColumn(
        "seg_id",
        F.sum(
            F.when(F.col("event_type") == "signup", 1).otherwise(0)
        ).over(w_cum),
    )
    w_seg = Window.partitionBy("user_id", "seg_id").orderBy("ts", "event_id")
    return seg.select(
        "event_id",
        "user_id",
        F.row_number().over(w_seg).alias("n_since_signup"),
    )


@query(
    "window_topn",
    oracle="""
    SELECT d_start, user_id, n, rn FROM (
      SELECT CAST(CAST(date_trunc('day', ts) AS TIMESTAMP) AS VARCHAR) AS d_start,
             user_id, COUNT(*) AS n,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY date_trunc('day', ts)
               ORDER BY COUNT(*) DESC, user_id ASC
             ) AS INTEGER) AS rn
      FROM events
      GROUP BY date_trunc('day', ts), user_id
    ) WHERE rn <= 2
    """,
)
def window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed Top-N (Flink Table API): top-2 users by event count per
    day, deterministic tie-break on user_id."""
    prep(spark)
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 day").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("w").orderBy(F.col("n").desc(), F.col("user_id").asc())
    return (
        daily.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select(
            F.col("w.start").cast("string").alias("d_start"),
            "user_id",
            "n",
            "rn",
        )
    )


@query(
    "window_sliding_agg_prebucket",
    oracle=f"""
    WITH slid AS (
      SELECT user_id,
             make_timestamp((epoch_us(ts) // {US_15MIN}) * {US_15MIN}
                            - CAST(k.k AS BIGINT) * {US_15MIN}) AS w_start
      FROM events, (SELECT UNNEST([0, 1, 2, 3]) AS k) k
    )
    SELECT CAST(w_start AS VARCHAR) AS w_start, user_id, COUNT(*) AS n
    FROM slid GROUP BY w_start, user_id
    """,
)
def window_sliding_agg_prebucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SURVEY §4 sliding-window mitigation, materialized: aggregate
    once per (15-min slide bucket × user) FIRST, then fan the
    pre-aggregated buckets (not the raw events) into their 4 windows
    and roll up. Same oracle as window_sliding_agg — identical result,
    but the ×(size/slide) replication applies to |buckets| rows instead
    of |events| (at 100 TB: billions of events → millions of buckets).
    This is Flink's pane/slice optimization (Scotty/cutty) expressed as
    two Catalyst aggregations (:func:`pane_slice_user_counts`).
    """
    prep(spark)
    return pane_slice_user_counts(
        table(spark, sf_dir, "events"), US_HOUR, US_15MIN
    )


@query(
    "window_count_tumbling",
    oracle="""
    WITH numbered AS (
      SELECT user_id, event_id, value,
             (ROW_NUMBER() OVER (
                PARTITION BY user_id ORDER BY ts, event_id) - 1) // 5
               AS window_idx
      FROM events
    )
    SELECT user_id,
           CAST(window_idx AS BIGINT)  AS window_idx,
           COUNT(*)                    AS n,
           MIN(event_id)               AS first_event,
           MAX(event_id)               AS last_event,
           ROUND(SUM(value), 4)        AS sum_value
    FROM numbered GROUP BY user_id, window_idx
    """,
)
def window_count_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-based tumbling windows — Flink ``countWindow(5)``: per
    user, every 5 consecutive events (event-time order, total-order
    tie-break) form one window; the tail window may be partial.

    Spark has no count-window primitive; row_number over the keyed
    event-time order integer-divided by the size IS the window id —
    one shuffle on user_id, then an ordinary grouped aggregate. In
    streaming this maps to transformWithState holding a per-key
    counter (the stateful_* family shows the machinery).
    """
    prep(spark)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    numbered = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        ((F.row_number().over(w) - 1) / 5).cast("long").alias("window_idx"),
    )
    return numbered.groupBy("user_id", "window_idx").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


@query(
    "window_count_sliding",
    oracle="""
    WITH numbered AS (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn
      FROM events
    ), fanned AS (
      SELECT user_id, event_id, value, rn,
             UNNEST(generate_series(
               CAST(GREATEST(CEIL((rn - 5) / 2.0), 0) AS BIGINT),
               rn // 2)) AS window_idx
      FROM numbered
    )
    SELECT user_id,
           CAST(window_idx AS BIGINT) AS window_idx,
           COUNT(*)                   AS n,
           ROUND(SUM(value), 4)       AS sum_value
    FROM fanned
    GROUP BY user_id, window_idx
    HAVING COUNT(*) = 6 OR MIN(rn) = 0
    """,
)
def window_count_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding COUNT windows — Flink ``countWindow(6, 2)``: per user,
    window w covers event positions [2w, 2w+6); row rn belongs to
    windows ceil((rn−5)/2) … floor(rn/2) (clamped at 0). Emitted
    windows are the complete ones plus the warm-up windows at the head
    of the stream (MIN(rn)=0), matching Flink's trigger-on-count with
    partial first fires suppressed except the initial ramp.

    Same plan family as the time-sliding form: the fan-out is
    size/slide = 3 window ids per ROW — but over the keyed row_number,
    so the pre-bucket mitigation (window_sliding_agg_prebucket) applies
    identically if the fan-out ever dominates.
    """
    prep(spark)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    numbered = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        (F.row_number().over(w) - 1).cast("long").alias("rn"),
    )
    fanned = numbered.select(
        "user_id",
        "value",
        "rn",
        F.explode(
            F.sequence(
                F.greatest(
                    F.ceil((F.col("rn") - 5) / 2.0).cast("long"), F.lit(0).cast("long")
                ),
                (F.col("rn") / 2).cast("long"),
            )
        ).alias("window_idx"),
    )
    return (
        fanned.groupBy("user_id", "window_idx")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.min("rn").alias("_min_rn"),
        )
        .filter((F.col("n") == 6) | (F.col("_min_rn") == 0))
        .drop("_min_rn")
    )


@query(
    "window_tumbling_offset",
    oracle="""
    SELECT CAST(CAST(date_trunc('hour', ts - INTERVAL 15 MINUTE) AS TIMESTAMP)
                + INTERVAL 15 MINUTE AS STRING) AS w_start,
           event_type,
           COUNT(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def window_tumbling_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling windows with a start-time OFFSET — Flink
    ``TumblingEventTimeWindows.of(Time.hours(1), Time.minutes(15))``:
    panes run :15→:15 instead of :00→:00 (the alignment knob for
    billing-day or timezone-shifted windows). Spark's `window()` takes
    the same offset as its 4th argument (startTime).
    """
    prep(spark)
    return tumbling_offset_agg(table(spark, sf_dir, "events"))


def tumbling_offset_agg(events: DataFrame) -> DataFrame:
    """window_tumbling_offset over ``events``: a table or a
    watermarked stream."""
    return (
        events.groupBy(
            F.window("ts", "1 hour", "1 hour", "15 minutes").alias("w"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("string").alias("w_start"), "event_type", "n"
        )
    )


@query(
    "window_cascading_rollup",
    oracle="""
    SELECT 'hour' AS grain, CAST(date_trunc('hour', ts) AS VARCHAR) AS w_start,
           event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY date_trunc('hour', ts), event_type
    UNION ALL
    SELECT 'day', CAST(CAST(date_trunc('day', ts) AS TIMESTAMP) AS VARCHAR),
           event_type, COUNT(*), ROUND(SUM(value), 4)
    FROM events GROUP BY date_trunc('day', ts), event_type
    UNION ALL
    SELECT 'month', CAST(CAST(date_trunc('month', ts) AS TIMESTAMP) AS VARCHAR),
           event_type, COUNT(*), ROUND(SUM(value), 4)
    FROM events GROUP BY date_trunc('month', ts), event_type
    """,
)
def window_cascading_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascading hour→day→month rollup (the hypertable
    continuous-aggregate pattern): the DAY grain re-aggregates the HOUR
    partials and MONTH re-aggregates DAY — the base table is scanned
    exactly ONCE for all three grains. The oracle recomputes each grain
    directly from events (sums are associative; ROUND(…,4) absorbs
    float summation-order noise per suite convention).

    At 100 TB this is the difference between one scan plus two tiny
    re-aggregations (each input is already |hours|·|types| rows) and
    three full scans — and it is exactly how a streaming deployment
    maintains multi-grain rollups: the hourly aggregate is the stored
    stream sink, coarser grains are cheap batch re-aggs over it.
    """
    prep(spark)
    hourly = (
        table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
        .select(
            F.col("w.start").alias("h_start"), "event_type", "n", "sv"
        )
        .persist()  # one base scan feeds all grains
    )
    daily = (
        hourly.groupBy(
            F.date_trunc("day", "h_start").alias("d_start"), "event_type"
        )
        .agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
        .persist()
    )
    monthly = daily.groupBy(
        F.date_trunc("month", "d_start").alias("m_start"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))

    def out(df: DataFrame, grain: str, start_col: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            F.col(start_col).cast("string").alias("w_start"),
            "event_type",
            "n",
            F.round("sv", 4).alias("sum_value"),
        )

    return (
        out(hourly.withColumnRenamed("h_start", "s"), "hour", "s")
        .unionByName(out(daily.withColumnRenamed("d_start", "s"), "day", "s"))
        .unionByName(out(monthly.withColumnRenamed("m_start", "s"), "month", "s"))
    )


@query(
    "window_session_dynamic_gap",
    oracle="""
    WITH gapped AS (
      SELECT user_id, event_id, ts, epoch_us(ts) AS us,
             CASE event_type WHEN 'click' THEN 1800000000
                             WHEN 'view'  THEN 3600000000
                             ELSE 900000000 END AS gap_us
      FROM events
    ), marked AS (
      SELECT user_id, event_id, us, gap_us,
             CASE WHEN us >= MAX(us + gap_us) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) OR MAX(us + gap_us) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) IS NULL THEN 1 ELSE 0 END AS is_new
      FROM gapped
    ), sessions AS (
      -- event_id tiebreak must match the marked CTE's frame order: under
      -- a (user_id, us) tie the running sum would otherwise be free to
      -- frame the is_new=0 row before its is_new=1 twin and assign it to
      -- the previous session (latent; no fixture ties today).
      SELECT user_id, us, gap_us,
             SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS sess_id
      FROM marked
    )
    SELECT user_id,
           CAST(make_timestamp(MIN(us)) AS VARCHAR)          AS s_start,
           CAST(make_timestamp(MAX(us + gap_us)) AS VARCHAR) AS s_end,
           COUNT(*)                                          AS n_events
    FROM sessions
    GROUP BY user_id, sess_id
    """,
)
def window_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows whose inactivity gap depends on the EVENT
    (click → 30 min, view → 60 min, else 15 min) — Flink's
    ``SessionWindowTimeGapExtractor`` / Spark's dynamic-gap
    ``session_window(ts, CASE ...)``.

    Each event opens [ts, ts + gap(event)); overlapping panes merge,
    so a session's end is the running max of per-event ends and a new
    session starts exactly when an event's ts reaches that max
    (half-open: touching panes do NOT merge). The oracle reproduces
    that merge rule with a running-max island formulation — a stronger
    check than re-using Spark's own operator, since the two
    formulations only agree if the merge semantics are exactly right.
    State per key is one interval (Spark merges incrementally); at
    100 TB this is the same single-shuffle keyed aggregation as the
    fixed-gap session.
    """
    prep(spark)
    return session_dynamic_gap_agg(table(spark, sf_dir, "events"))


def session_dynamic_gap_agg(events: DataFrame) -> DataFrame:
    """window_session_dynamic_gap over ``events``: a table or a
    watermarked stream."""
    gap = (
        F.when(F.col("event_type") == "click", "30 minutes")
        .when(F.col("event_type") == "view", "60 minutes")
        .otherwise("15 minutes")
    )
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("string").alias("s_start"),
            F.col("w.end").cast("string").alias("s_end"),
            "n_events",
        )
    )
