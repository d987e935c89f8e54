"""Analytic (OVER) window functions, batch (SURVEY.md §2.5).

Flink analogue: Table API OVER windows / windowed Top-N (reference
snapshot empty — SURVEY.md §0).

Scale notes (100 TB): every window here partitions by a real key
(customer, user, brand) — one shuffle on the partition key, then a
per-partition sort; no global single-partition window except the
explicitly-global row_number in sort_multi_key (documented there).
Deterministic tie-breaks on unique ids everywhere (SURVEY §2 rule d).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..registry import query
from ..tables import prep, table
from .cep import Pattern, Step, compile_horizon, compile_pattern


@query(
    "winfn_row_number_topk",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC
             ) AS INTEGER) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def winfn_row_number_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — Flink Table API Top-N shape."""
    prep(spark)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


@query(
    "winfn_rank_dense",
    oracle="""
    SELECT p_partkey, p_brand, p_retailprice,
           CAST(RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS INTEGER) AS rnk,
           CAST(DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS INTEGER) AS drnk
    FROM part
    """,
)
def winfn_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank vs dense_rank (ties produce gaps vs no gaps — both
    deterministic under ties since rank depends only on the value)."""
    prep(spark)
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    return table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_retailprice",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@query(
    "winfn_ntile",
    oracle="""
    SELECT c_custkey, c_acctbal,
           CAST(NTILE(4) OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS INTEGER) AS quartile
    FROM customer
    """,
)
def winfn_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile bucketing (unique-key tie-break makes ntile total-order
    deterministic). Global ORDER BY → single-partition window; at
    100 TB this becomes approx quantile cutoffs + a broadcast join."""
    prep(spark)
    w = Window.orderBy(F.col("c_acctbal").asc(), F.col("c_custkey").asc())
    return table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", F.ntile(4).over(w).alias("quartile")
    )


@query(
    "winfn_lag_lead",
    oracle="""
    SELECT event_id, user_id,
           CAST(LAG(ts)  OVER w AS VARCHAR) AS prev_ts_s,
           CAST(LEAD(ts) OVER w AS VARCHAR) AS next_ts_s,
           epoch_us(ts) - epoch_us(LAG(ts) OVER w) AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
)
def winfn_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user previous/next event timestamps + gap (µs, integral so
    no float hazard). Flink analogue: pattern/sequence state per key."""
    prep(spark)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    ev = table(spark, sf_dir, "events")
    prev_ts = F.lag("ts").over(w)
    return ev.select(
        "event_id",
        "user_id",
        prev_ts.cast("string").alias("prev_ts_s"),
        F.lead("ts").over(w).cast("string").alias("next_ts_s"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)).alias("gap_us"),
    )


@query(
    "winfn_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS cum_revenue
    FROM orders
    """,
)
def winfn_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue per customer (frame-ordered accumulation is
    the same sequence in both engines → stable under rounding)."""
    prep(spark)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("cum_revenue"),
    )


@query(
    "winfn_moving_avg_range",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(AVG(o_totalprice) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate ASC
             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW
           ), 6) AS mavg_7d
    FROM orders
    """,
)
def winfn_moving_avg_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day RANGE moving average — the batch analogue of a sliding
    event-time window. Spark rangeBetween needs a numeric ordering, so
    the frame runs over epoch seconds (86400 s × 7)."""
    prep(spark)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-7 * 86400, 0)
    )
    return table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.avg("o_totalprice").over(w), 6).alias("mavg_7d"),
    )


@query(
    "winfn_first_last",
    oracle="""
    SELECT DISTINCT user_id,
           FIRST_VALUE(event_type) OVER w AS first_et,
           LAST_VALUE(event_type)  OVER w AS last_et
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
)
def winfn_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last event_type per user over the full partition frame."""
    prep(spark)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.first("event_type").over(w).alias("first_et"),
            F.last("event_type").over(w).alias("last_et"),
        )
        .distinct()
    )


@query(
    "winfn_percent_rank_cume",
    oracle="""
    SELECT o_orderkey,
           PERCENT_RANK() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice ASC, o_orderkey ASC) AS pr,
           CUME_DIST() OVER (PARTITION BY o_orderstatus
                             ORDER BY o_totalprice ASC, o_orderkey ASC)   AS cd
    FROM orders
    """,
)
def winfn_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist per status — rational values (k/n)
    computed by the identical division in both engines → exact."""
    prep(spark)
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@query(
    "winfn_nth_value",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           NTH_VALUE(o_orderkey, 2) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS second_order_key
    FROM orders
    """,
)
def winfn_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer's 2nd-ever order key attached to every one of
    their order rows (NULL for single-order customers) — the
    full-partition frame makes nth_value deterministic; tie-break on
    orderkey gives a total order."""
    prep(spark)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.nth_value("o_orderkey", 2).over(w).alias("second_order_key"),
    )


DETECT_CEP = Pattern(
    steps=(Step("clicks", "click", 2, 2), Step("buy", "purchase")),
    within_hours=6,
)


@query(
    "pattern_detect_cep",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_type,
             LAG(event_type, 1) OVER w AS prev1,
             LAG(event_type, 2) OVER w AS prev2,
             LAG(ts, 2)         OVER w AS ts0
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(ts0 AS STRING) AS pattern_start,
           CAST(ts  AS STRING) AS pattern_end
    FROM seq
    WHERE event_type = 'purchase'
      AND prev1 = 'click' AND prev2 = 'click'
      AND ts <= ts0 + INTERVAL 6 HOUR
    """,
)
def pattern_detect_cep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP-style sequence detection, batch form: strictly consecutive
    click → click → purchase per user within 6 hours — the Flink
    CEP ``Pattern.begin("c1").next("c2").next("buy").within(6h)``
    shape. Since round 10 the spec compiles through the generic
    quantifier compiler (operators/cep.py, suffix strategy); the
    compiled plan is lag-for-lag the plan this key shipped with since
    round 5 (strict contiguity = Flink `next`; ``exact`` is left off,
    so the last two clicks of a longer run still match — that
    distinction belongs to pattern_detect_times).

    One shuffle on user_id; the pattern match itself is a row-local
    predicate over the lag frame. Total event-time order is pinned by
    the (ts, event_id) tie-break.
    """
    prep(spark)
    m = compile_pattern(table(spark, sf_dir, "events"), DETECT_CEP)
    return m.select(
        "user_id",
        F.col("start_ts").cast("string").alias("pattern_start"),
        F.col("anchor_ts").cast("string").alias("pattern_end"),
    )


@query(
    "winfn_moving_stddev",
    oracle="""
    SELECT user_id,
           event_id,
           ROUND(STDDEV_SAMP(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
           ), 4) AS vol_10
    FROM events
    """,
)
def winfn_moving_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 10-row sample stddev of event value per user — the
    volatility-band shape of monitoring pipelines. Both engines use
    numerically stable streaming moments over the frame; rounded per
    the float policy. NULL for single-row frames both sides."""
    prep(spark)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    return table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.round(F.stddev_samp("value").over(w), 4).alias("vol_10"),
    )


@query(
    "winfn_first_ignore_nulls",
    oracle="""
    SELECT user_id, event_id,
           first_value(purchase_value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS first_purchase_value
    FROM (
      SELECT user_id, event_id, ts,
             CASE WHEN event_type = 'purchase' THEN ROUND(value, 4) END
               AS purchase_value
      FROM events
    )
    """,
)
def winfn_first_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running "first purchase value so far" per user: IGNORE NULLS
    first_value over a sparse derived column — the fill-forward-from-
    sentinel shape (NULL until the user's first purchase, constant
    after). Spark expresses IGNORE NULLS via `F.first(col, True)`."""
    prep(spark)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            F.col("event_type") == "purchase", F.round("value", 4)
        ).alias("purchase_value"),
    )
    return ev.select(
        "user_id",
        "event_id",
        F.first("purchase_value", ignorenulls=True)
        .over(w)
        .alias("first_purchase_value"),
    )


@query(
    "pattern_detect_followedby",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             COUNT(CASE WHEN event_type = 'click' THEN 1 END) OVER (
               PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 6 HOUR PRECEDING AND CURRENT ROW
             ) AS clicks_6h
      FROM events
    )
    SELECT user_id, event_id AS purchase_event, CAST(clicks_6h AS BIGINT) AS clicks_6h
    FROM flagged
    WHERE event_type = 'purchase' AND clicks_6h >= 2
    """,
)
def pattern_detect_followedby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relaxed-contiguity CEP (`followedBy`): purchases preceded by ≥2
    clicks of the same user within 6 hours, other events allowed in
    between — the counting-over-a-time-range formulation, vs
    pattern_detect_cep's strict `next` adjacency.

    The RANGE frame needs a numeric order key in Spark: epoch
    microseconds (ties collapse into one frame position, matching
    DuckDB's RANGE-over-timestamp peers exactly). Since round 10 the
    spec compiles through the generic compiler's horizon strategy
    (operators/cep.py) — same frame, same predicate.
    """
    prep(spark)
    m = compile_horizon(
        table(spark, sf_dir, "events"),
        anchor_cls="purchase",
        target_cls="click",
        hours=6,
        at_least=2,
    )
    return m.select(
        "user_id",
        F.col("anchor_id").alias("purchase_event"),
        F.col("n_target").alias("clicks_6h"),
    )


@query(
    "pattern_detect_notfollowedby",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) OVER (
               PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN CURRENT ROW AND INTERVAL 6 HOUR FOLLOWING
             ) AS purchases_6h
      FROM events
    )
    SELECT user_id, event_id AS click_event
    FROM flagged
    WHERE event_type = 'click' AND purchases_6h = 0
    """,
)
def pattern_detect_notfollowedby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absence CEP (Flink ``notFollowedBy`` with a time bound):
    abandoned clicks — same-user clicks with NO purchase in the
    following 6 hours. The negation pattern funnels/churn detection
    runs on.

    Same RANGE-frame machinery as pattern_detect_followedby but with a
    FOLLOWING horizon and a zero-count predicate. Batch semantics at
    the stream tail: a click whose 6-hour horizon extends past the
    last event counts only observed purchases (absence = none in the
    data) — in streaming, Flink/Spark would hold emission until the
    watermark passes click_ts + 6h; bounded replay makes both commit
    to the same answer. One shuffle on user_id; the frame is
    watermark-evictable state in the streaming form. Since round 10
    the spec compiles through the generic compiler's horizon strategy
    (operators/cep.py) with no ``at_least`` (absence) — same frame,
    same zero-count predicate.
    """
    prep(spark)
    m = compile_horizon(
        table(spark, sf_dir, "events"),
        anchor_cls="click",
        target_cls="purchase",
        hours=6,
    )
    return m.select("user_id", F.col("anchor_id").alias("click_event"))


@query(
    "pattern_detect_times",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             LAG(event_type, 1) OVER w AS prev1,
             LAG(event_type, 2) OVER w AS prev2,
             LAG(event_type, 3) OVER w AS prev3,
             LAG(ts, 2)         OVER w AS ts_first
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           event_id AS purchase_event,
           CAST(ts_first AS STRING) AS pattern_start,
           CAST(ts       AS STRING) AS pattern_end
    FROM seq
    WHERE event_type = 'purchase'
      AND prev1 = 'click' AND prev2 = 'click'
      AND (prev3 IS NULL OR prev3 <> 'click')
      AND ts <= ts_first + INTERVAL 6 HOUR
    """,
)
def pattern_detect_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP count quantifier (Flink ``times(n)``): exactly TWO
    consecutive clicks immediately followed by a purchase, all within
    6 hours of the first click — the
    ``Pattern.begin("c").times(2).consecutive().next("buy").within(6h)``
    shape. "Exactly" is the point of the quantifier: a third
    preceding click disqualifies the match (prev3 guard), which is
    what separates ``times(2)`` from the ≥-count relaxed form in
    pattern_detect_followedby. (n=2 because the fixtures' longest
    click run preceding a purchase is 2 — n=3 matches zero rows at
    every SF, and an always-empty key is no evidence.)

    Same execution shape as the other CEP keys: one shuffle on
    user_id, then the quantifier is a row-local predicate over a lag
    frame — no self-joins, no state beyond the 4-row frame, identical
    at 100 TB. Event-time total order pinned by the (ts, event_id)
    tie-break in both engines. Since round 10 the spec compiles
    through the generic compiler (operators/cep.py, suffix strategy);
    ``exact=True`` on the click step emits the boundary guard that
    makes the quantifier mean "exactly 2", not "last 2 of a run".
    """
    prep(spark)
    pat = Pattern(
        steps=(
            Step("clicks", "click", 2, 2, exact=True),
            Step("buy", "purchase"),
        ),
        within_hours=6,
    )
    m = compile_pattern(table(spark, sf_dir, "events"), pat)
    return m.select(
        "user_id",
        F.col("anchor_id").alias("purchase_event"),
        F.col("start_ts").cast("string").alias("pattern_start"),
        F.col("anchor_ts").cast("string").alias("pattern_end"),
    )


DETECT_ONEORMORE = Pattern(
    steps=(
        Step("clicks", "click", 1, None),
        Step("buy", "purchase", 1, None),
    ),
    within_hours=6,
)


@query(
    "pattern_detect_oneormore",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn_t
      FROM events
    ), runs AS (
      SELECT user_id, MIN(ts) AS run_start,
             COUNT(*) AS n_clicks, MAX(rn) AS end_rn
      FROM ordered WHERE event_type = 'click'
      GROUP BY user_id, rn - rn_t
    )
    SELECT r.user_id,
           o.event_id AS purchase_event,
           CAST(r.n_clicks AS BIGINT) AS n_clicks,
           CAST(r.run_start AS STRING) AS pattern_start,
           CAST(o.ts AS STRING) AS pattern_end
    FROM runs r JOIN ordered o
      ON o.user_id = r.user_id AND o.rn = r.end_rn + 1
    WHERE o.event_type = 'purchase'
      AND o.ts <= r.run_start + INTERVAL 6 HOUR
    """,
)
def pattern_detect_oneormore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP greedy loop quantifier (Flink ``oneOrMore().greedy()``):
    a MAXIMAL run of ≥1 consecutive clicks immediately followed by a
    purchase, within 6 hours of the run's first click — reported once
    with the full run length, never as its shorter suffix matches
    (that once-per-maximal-run emission is what ``greedy`` means).

    Gaps-and-islands formulation: the rn − rn_t difference is constant
    exactly within a consecutive same-type run, so click runs reduce
    to a grouped aggregate. The oracle keeps the original join form
    (purchase = the event at run-end rn + 1); since round 10 the
    engine compiles the spec through the generic compiler's greedy
    strategy (operators/cep.py), which replaces that (user_id,
    rn)-equi-join with a lag over the runs relation — the run right
    after a maximal click run starts at rn + 1 by construction, so
    the two forms are row-equal while the lag shuffles strictly fewer
    rows. Everything is partition-local per user; no self-join
    blow-up at 100 TB.
    """
    prep(spark)
    m = compile_pattern(table(spark, sf_dir, "events"), DETECT_ONEORMORE)
    return m.select(
        "user_id",
        F.col("anchor_first_id").alias("purchase_event"),
        F.col("n_clicks").cast("long").alias("n_clicks"),
        F.col("start_ts").cast("string").alias("pattern_start"),
        F.col("anchor_start_ts").cast("string").alias("pattern_end"),
    )


@query(
    "winfn_running_distinct",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
             ) = 1 THEN 1 ELSE 0 END AS first_seen
      FROM events
    )
    SELECT user_id, event_id,
           CAST(SUM(first_seen) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_types_so_far
    FROM flagged
    """,
)
def winfn_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT event_type) per user in event-time order.

    Window frames cannot host DISTINCT aggregates (Spark and most
    engines reject ``count(distinct ..) OVER``), so this uses the
    standard decomposition: flag each (user, type)'s FIRST occurrence
    with row_number()=1, then running-sum the flags. Two exchanges —
    (user, type) for the flag, user for the running sum — but both run
    over the narrow 4-column projection, never the full row, and the
    second reshuffles flag bits only. Ordering ties broken by event_id
    so both engines see identical frames.
    """
    prep(spark)
    w_first = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_id",
            "ts",
            F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("first_seen"),
        )
        .select(
            "user_id",
            "event_id",
            F.sum("first_seen").over(w_run).alias("n_types_so_far"),
        )
    )
